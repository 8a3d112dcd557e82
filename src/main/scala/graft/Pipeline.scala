package graft

import graft.extract.TextExtract
import graft.model.EngineConfig
import graft.stages._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end dedup pipeline (SURVEY §3 lifecycle, Spark-first):
  *
  *   pages ──extract──> docs (narrow)
  *     ├── exact-dup pre-pass (1 shuffle on text hash)  ≙ W1/A5
  *     └── survivors ──signatures──> minhash+simhash (narrow)
  *           ──LSH banding──> candidate pairs (1-2 shuffles) ≙ J3
  *           ──scoring──> edges ≥ level threshold           ≙ §2.11/P5
  *           ──(+ winnowing substring edges)──
  *           ──connected components──> cluster_id=min(id)   ≙ §2.9
  *           ──re-attach exact holdouts──                   ≙ J4
  *           ──canonical doc + lineage lookup──             ≙ W5/W6
  */
object Pipeline {

  final case class Result(
      assignments: DataFrame, // (id, cluster_id) for every input doc
      edges: DataFrame,       // scored, thresholded
      lineage: DataFrame,     // per-cluster-member gammas + match_type label
      // (metric, value): five counters of this run, then ScaleStats rows
      // (pairgen_*, cc_*) that are JVM-wide since ScaleStats.reset() —
      // maxima (cc_*_runs: call counts) over every call, not this run's
      metrics: DataFrame)

  /** Release the engine's internal persisted intermediates for this
    * session (see [[graft.stages.IntermediateCaches]]). Call after fully
    * consuming the lazy results of [[run]]/[[runLite]] (or any operator
    * that documents tracked caches) in a long-lived session — repeated
    * pipeline invocations otherwise accumulate cached blocks. Touches ONLY
    * engine-created caches, never the caller's. */
  def clearIntermediateCaches(spark: SparkSession): Unit = IntermediateCaches.clear(spark)

  /** The dedup stages, wired once. Each stage is built lazily, on first
    * use, and handed to `at(name, stage)` — the entry point's
    * materialization policy — which returns the frame every downstream
    * stage consumes: the plan itself, a tracked cache of it, or a
    * committed snapshot read back. Stages in pipeline order: holdouts,
    * survivors, signatures, candidates, scored, edges, assignments. */
  private final class StageGraph(spark: SparkSession, input: DataFrame, cfg: EngineConfig,
                                 at: (String, => DataFrame) => DataFrame) {
    // the exact-dup split only ever yields holdouts: survivors are the input
    // minus the holdouts the boundary returned (splitByHash's own survivor
    // plan), so a resume with committed holdouts never builds the split.
    // The persist flags keep survivors and the later holdout consumers on
    // the materialized holdouts instead of a rebuilt plan.
    lazy val holdouts: DataFrame = at("holdouts",
      if (cfg.exactDedupByHash) ExactDedup.splitByHash(input, persistHoldouts = true)._2
      else ExactDedup.split(input, persistRanked = true)._2)
    lazy val survivors: DataFrame = at("survivors",
      input.join(holdouts.select("id"), Seq("id"), "left_anti"))
    lazy val signatures: DataFrame = at("signatures",
      Signatures.withSignatures(survivors, cfg).select("id", "minhash", "simhash"))
    lazy val candidates: DataFrame = at("candidates", Blocking.candidatePairs(signatures, cfg))
    lazy val scored: DataFrame = at("scored", {
      val raw = Scoring.score(candidates, signatures, cfg)
      if (cfg.exactVerify) Scoring.exactVerify(raw, survivors, cfg) else raw
    })
    /** Winnowing substring edges (src, dst, shared_fps) — no boundary of
      * their own: they enter `edges`, and [[run]]'s lineage reads them. */
    lazy val substringEdges: DataFrame = Substring.edges(survivors, cfg)
    lazy val edges: DataFrame = at("edges",
      Scoring.edges(scored).unionByName(substringEdges.select("src", "dst")))
    // cluster survivors; holdouts re-attach via master (J4 semantics:
    // cluster of master, falling back to own master id,
    // person_1/link_model_per.py:950-953)
    lazy val assignments: DataFrame = at("assignments", ExactDedup.reattach(
      ConnectedComponents.assign(spark, survivors.select("id"), edges, cfg.maxCcIterations,
        cfg.reliableCheckpoints, cfg.ccFastPathMaxEdges),
      holdouts))
  }

  /** Boundary policy: cache (engine-tracked) the named stages, pass the
    * rest through as plans. */
  private def persistAt(names: String*): (String, => DataFrame) => DataFrame =
    (name, stage) => if (names.contains(name)) IntermediateCaches.persistTracked(stage) else stage

  /** Run over a doc table with columns (id:long, text:string, url, warc_ts,
    * lang). Use [[fromPages]] first if starting from raw html.
    *
    * Cache contract: internal intermediates are persisted and tracked;
    * call [[clearIntermediateCaches]] once the Result frames are consumed. */
  def run(spark: SparkSession, docs: DataFrame, cfg: EngineConfig = EngineConfig.default): Result = {
    // persistTracked is a no-op on an already-persisted plan, so a
    // CALLER-persisted input is reused untouched (and never tracked —
    // clearIntermediateCaches must not evict the caller's cache)
    val input = IntermediateCaches.persistTracked(docs)
    val g = new StageGraph(spark, input, cfg,
      persistAt("signatures", "candidates", "scored", "edges"))
    val assignments = g.assignments

    // cluster-row lineage (the reference's main human-facing table,
    // person_1/link_model_per.py:1064-1129 + :1219-1262): gammas of the
    // direct edge to the master merged onto every member row + match-type
    // label. Substring edges lacking signature gammas join as
    // reason="substring" (anti-joined so a pair found by both passes keeps
    // its scored gammas).
    val scoredDirect = g.scored.filter(col("level") >= 1)
      .select("id_l", "id_r", "jaccard_est", "hamming", "level", "reason")
    val subDirect = g.substringEdges.select(col("src").as("id_l"), col("dst").as("id_r"))
      .join(scoredDirect.select("id_l", "id_r"), Seq("id_l", "id_r"), "left_anti")
      .select(col("id_l"), col("id_r"),
        lit(null).cast("double").as("jaccard_est"), lit(null).cast("int").as("hamming"),
        lit(1).as("level"), lit("substring").as("reason"))
    val lineage = Lineage.clusterRows(
      assignments, scoredDirect.unionByName(subDirect), g.holdouts.select("id"))

    val counters = pipelineCounters(input, g.holdouts, g.candidates, g.edges, assignments)
    // telemetry AFTER the action (CC's bounded collect and PairGen's
    // chained-bucket count fill while the metrics job materializes them):
    // observed headroom of every driver-side bound rides the same table an
    // operator already watches
    val metrics = stageMetrics(spark, counters ++ ScaleStats.snapshot())

    Result(assignments, g.scored.filter(col("level") >= 1), lineage, metrics)
  }

  /** Pipeline without the metrics actions — returns lazy assignments only
    * (used by the driver-facing queries where the caller counts). */
  def runLite(spark: SparkSession, docs: DataFrame,
              cfg: EngineConfig = EngineConfig.default): DataFrame =
    // only (id, text) are consumed downstream — dropping url/warc_ts/lang
    // up front keeps them out of every downstream exchange and cache
    new StageGraph(spark, docs.select("id", "text"), cfg, persistAt(liteCached(docs): _*)).assignments

  /** The stages [[runLite]] caches.
    *
    * Signatures feed bucket explosion AND both sides of the scoring join —
    * 128-slot MinHash is the most expensive narrow transform in the
    * pipeline, computed once, cached. Candidates are not cached: scoring
    * is their only reader, and exactVerify caches the scored candidates
    * itself ([[run]] caches them because its counters read them again).
    * Survivors feed several downstream jobs (signatures, exact verify,
    * substring). When the CALLER's doc table is uncached, cache the
    * compact (id, text) form once; when the caller already persisted the
    * input (the bench corpus, any warehouse-cached table), survivors
    * re-derive per consumer as a scan of THAT cache plus a broadcast
    * anti-join probe on the holdout ids — layering a second full-width
    * cache of ~the same bytes bought nothing but the storage write
    * (guide §5: cache only when recompute beats the memory pressure;
    * same shape run() has always used over its persisted input). */
  private def liteCached(docs: DataFrame): Seq[String] =
    Seq("signatures") ++
      (if (docs.storageLevel == org.apache.spark.storage.StorageLevel.NONE) Seq("survivors")
       else Nil)

  /** Snapshot stages of [[runResumable]], in commit order. */
  private[graft] val SnapshotStages = Seq("holdouts", "edges", "assignments")

  /** Resumable pipeline: the stages the input cannot cheaply rebuild —
    * exact-dup holdouts, edges and assignments — are committed as
    * Iceberg-style snapshots ([[graft.io.SnapshotStore]]: atomic manifest
    * rename, config fingerprint, per-file row counts, schema). Survivors,
    * signatures and candidates are rebuilt from `docs` under [[runLite]]'s
    * boundary policy on every call that needs them. A killed run restarts
    * from the last committed snapshot and — because every stage is a
    * deterministic function of its committed inputs, the input and the
    * config — reproduces byte-identical output (north_rule resumability;
    * reference analog person_1/person.py:752-756).
    *
    * Input check: every manifest records an order-insensitive fingerprint
    * of `docs`' (id, text) rows ([[ExactDedup.inputFingerprint]]). Every
    * call that reads the input — a fresh commit, or a partial resume (some
    * stages committed, a later one missing) — computes it first, with one
    * exact aggregate, and fails if a committed stage recorded a different
    * one: committed holdouts of one input must never meet survivors
    * rebuilt from another. Manifests written before fingerprints were
    * recorded resume unchecked.
    *
    * A full resume (all three stages committed) trusts the committed
    * assignments as they stand: it returns them without reading `docs`, so
    * it is one parquet scan, and it does NOT check the input — a scan of
    * the input would cost more than the resume itself. Resuming over a
    * different input is caught only where the input is read.
    *
    * Cache contract: a call that computes any stage persists and tracks
    * the same intermediates [[runLite]] does; call
    * [[clearIntermediateCaches]] once the result is consumed. A full
    * resume registers no cache. */
  def runResumable(spark: SparkSession, docs: DataFrame, storeRoot: String,
                   cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val store = new graft.io.SnapshotStore(storeRoot)
    val cfgFp = Integer.toHexString(configJson(cfg).hashCode)
    val committed = SnapshotStages.flatMap(st => store.latest(spark, st, cfgFp).map(st -> _)).toMap
    if (committed.size == SnapshotStages.size) return committed("assignments")

    val input = docs.select("id", "text")
    val inputFp = ExactDedup.inputFingerprint(input)
    for (st <- committed.keys; recorded <- store.inputFingerprint(st) if recorded != inputFp)
      throw new IllegalStateException(s"snapshot store $storeRoot: stage '$st' was committed " +
        s"from a different input (fingerprint $recorded, this input $inputFp); resume with " +
        "the original input or use a fresh store")
    val lite = persistAt(liteCached(docs): _*)
    val g = new StageGraph(spark, input, cfg, (name, stage) =>
      if (SnapshotStages.contains(name)) store.stage(spark, name, cfgFp, inputFingerprint = Some(inputFp))(stage)
      else lite(name, stage))
    // force every snapshot stage in commit order: each one is either read
    // back or computed and committed
    Seq(g.holdouts, g.edges, g.assignments).last
  }

  /** Ingest raw pages: extract text (pinned extractor) + assign stable ids.
    * id = xxhash64(url) — deterministic.
    *
    * Collision honesty: a 64-bit id space expects ~n²/2^65 colliding url
    * pairs — negligible through 10^10 urls (< 3·10^-6 expected pairs) but
    * ~27 expected pairs at the 10^12-doc design ceiling, where two
    * distinct pages would silently share an id through dedup and CC. At
    * that scale pass caller-provided unique ids (crawl record ids)
    * straight to [[run]], or set `verifyUnique = true`: the guard rides
    * the PLAN (one groupBy on the 8-byte id — no eager action here) and
    * raise_errors on the first id held by two distinct urls. */
  def fromPages(pages: DataFrame, verifyUnique: Boolean = false): DataFrame = {
    val extractUdf = udf((html: Array[Byte]) => TextExtract.extract(html))
    val docs = pages
      .withColumn("id", xxhash64(col("url")))
      .withColumn("text", extractUdf(col("html")))
      .select("id", "url", "warc_ts", "text", "lang")
    if (!verifyUnique) docs
    else {
      val clashes = docs.groupBy("id")
        .agg(countDistinct(col("url")).as("__urls"))
        .filter(col("__urls") > 1)
        .select(col("id"), lit(true).as("__clash"))
      docs.join(clashes, Seq("id"), "left")
        .withColumn("id",
          when(col("__clash"),
            raise_error(concat(lit("xxhash64(url) id collision at id "),
              col("id").cast("string"),
              lit(" — provide caller-assigned unique ids at this corpus size")))
              .cast("long"))
            .otherwise(col("id")))
        .drop("__clash")
    }
  }

  /** All five pipeline counters in ONE action (the old form ran five
    * serial driver actions — an Amdahl tax on every lineage-bearing
    * invocation): tag each frame, count per (metric, key) with map-side
    * partial agg, then per metric either sum the counts (plain row counts,
    * key = null) or count the groups (distinct cluster ids — countDistinct
    * without the expand a combined count+countDistinct agg would plan).
    * Two tiny hash-agg exchanges; every input is persisted upstream. */
  private[graft] def pipelineCounters(input: DataFrame, holdouts: DataFrame,
      candidates: DataFrame, allEdges: DataFrame,
      assignments: DataFrame): Map[String, Long] = {
    def tag(df: DataFrame, name: String, key: org.apache.spark.sql.Column) =
      df.select(lit(name).as("metric"), key.cast("long").as("__key"))
    val nullKey = lit(null).cast("long")
    val counted = tag(input, "input_docs", nullKey)
      .unionByName(tag(holdouts, "exact_holdouts", nullKey))
      .unionByName(tag(candidates, "candidate_pairs", nullKey))
      .unionByName(tag(allEdges, "edges", nullKey))
      // null cluster ids are excluded from the distinct count (the
      // replaced countDistinct semantics) rather than relying on
      // ExactDedup.reattach's coalesce-to-non-null invariant holding
      .unionByName(tag(assignments.filter(col("cluster_id").isNotNull),
        "clusters", col("cluster_id")))
      .groupBy("metric", "__key").agg(count(lit(1)).as("__c"))
      .groupBy("metric").agg(sum("__c").as("__total"), count(lit(1)).as("__groups"))
      .select(col("metric"),
        when(col("metric") === "clusters", col("__groups"))
          .otherwise(col("__total")).as("value"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // empty frames produce no group — restore the explicit 0 the five
    // separate count() actions used to report
    Seq("input_docs", "exact_holdouts", "candidate_pairs",
      "edges", "clusters").map(k => k -> counted.getOrElse(k, 0L)).toMap
  }

  private def stageMetrics(spark: SparkSession, m: Map[String, Long]): DataFrame = {
    import spark.implicits._
    m.toSeq.toDF("metric", "value")
  }

  /** Signature config echo — persisted with snapshots so a resumed run can
    * assert it matches (model JSON analog, person_1/link_model_per.py:745). */
  def configJson(cfg: EngineConfig): String =
    s"""{"shingleK":${cfg.shingleK},"numPerms":${cfg.numPerms},""" +
      s""""minhashKernel":"oph","bands":${cfg.bands},""" +
      s""""rowsPerBand":${cfg.rowsPerBand},"seed":${cfg.seed},""" +
      s""""jaccardThreshold":${cfg.jaccardThreshold},"hammingThreshold":${cfg.hammingThreshold},""" +
      s""""exactVerify":${cfg.exactVerify},"tfWeighting":${cfg.tfWeighting},""" +
      s""""winnowK":${cfg.winnowK},"winnowWindow":${cfg.winnowWindow},""" +
      s""""substringMinFps":${cfg.substringMinFps},"substringMinRatio":${cfg.substringMinRatio},""" +
      s""""substringDfCap":${cfg.substringDfCap},"allPairsCap":${cfg.allPairsCap},""" +
      s""""extractor":"${TextExtract.version}","kernels":"${graft.expr.Hashing.kernelVersion}"}"""
      // ccFastPathMaxEdges / reliableCheckpoints / maxCcIterations /
      // exactDedupByHash are deliberately EXCLUDED: they change the
      // execution plan, never the output (spec-pinned), so flipping them
      // must still reuse snapshots. The hashing-kernel version IS included
      // (like the extractor version): kernel output changes must invalidate
      // old signature snapshots, not silently mix with them. "minhashKernel"
      // is a literal: OPH is the only MinHash kernel, and the key stays so
      // stores committed while a second kernel existed still resume.
}
