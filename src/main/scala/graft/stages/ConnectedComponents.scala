package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components — the engine's replacement for Splink's
  * `cluster_pairwise_predictions_at_threshold`
  * (`person_1/link_model_per.py:830-837`; SURVEY §2.9).
  *
  * Alternating large-star / small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) on a Dataset of edges:
  * O(log n) rounds, each round = groupBy(min) + join, no vertex state
  * collected to the driver. `localCheckpoint` between rounds cuts the
  * lineage blow-up (the known failure mode at scale, SURVEY §7.5.1).
  *
  * Output invariant (SURVEY §1.4.3): cluster_id = MIN member id — relied on
  * by everything downstream in the reference (`WHERE id = cluster_id`
  * selects masters, `person_1/link_model_per.py:1447`).
  */
object ConnectedComponents {

  /** Edge sets at or below this size skip the distributed loop and run
    * union-find on the driver ([[driverUnionFind]]), while the loop costs
    * 4-6 rounds of plan-compile + job scheduling + 2 shuffles each — pure
    * size-independent SERIAL time (the Amdahl term that caps N→4N scaling
    * efficiency; measured ~10-20 s per run regardless of cores). Measured
    * at the bound's scale (10M-doc probe, 2.48M real dup-graph edges,
    * 16 pinned cores): union-find 4.1 s vs the distributed window loop's
    * 23.8 s on half the edges — the driver side wins by ~10× everywhere
    * the collect fits. Driver memory at the bound, in JVM terms not flat
    * bytes: 4M edges collect as specialized Tuple2 (~56 B each incl.
    * array slot ≈ 224 MB, freed before output build) and the union-find
    * uses primitive open-addressing arrays (≤ 8M nodes: 16M-slot map
    * ≈ 210 MB + id/parent arrays ≈ 96 MB ≈ 300 MB peak) — ~530 MB
    * transient. That does NOT fit Spark's 1 GiB spark.driver.memory
    * DEFAULT, so [[effectiveFastPathBound]] additionally caps the bound
    * by the running driver's max heap (~200 B/edge in a quarter of it);
    * this constant is the gate only on drivers provisioned ≥ ~4 GiB. At
    * 10^12-doc
    * scale the post-threshold edge set is far above this bound and the
    * log-round loop is the only option; below it, the loop is all
    * overhead. Adaptive plan choice, same contract both sides (spec-pinned
    * identical output). Set 0 to force the distributed path. Must equal
    * `EngineConfig.default.ccFastPathMaxEdges` — two diverging "defaults"
    * made the telemetry gauge misreport the limit actually honored
    * (caught by the 10M probe: 2.48M edges collected under a reported
    * 2M limit). */
  val DriverFastPathMaxEdges: Long = 4000000L

  /** The fast-path edge bound this JVM actually honors: the configured
    * bound capped by a hard 100M ceiling and by driver heap (~200 B/edge
    * transient, budgeted at a quarter of max heap so normal driver state
    * keeps the rest). 1 GiB heap (Spark's driver default) ⇒ ~1.3M edges;
    * 8 GiB ⇒ ~10M (the probe regime); huge heaps still stop at 100M. */
  private[graft] def effectiveFastPathBound(configured: Long): Int = {
    val heapCap = Runtime.getRuntime.maxMemory() / 4L / 200L
    math.min(math.min(configured, 100000000L), heapCap).toInt
  }

  /** @param edges columns src:long, dst:long (undirected, any orientation)
    * @param maxIterations bound on star ROUNDS (large-star+small-star = 2
    *        rounds per loop pass; the loop checks convergence every other
    *        round, so it may run at most one round past the bound before
    *        noticing). Exhausting the bound without a fixpoint THROWS —
    *        an unconverged star graph would silently yield a wrong cluster
    *        set, the worst failure mode. Practically unreachable at the
    *        default 50 (convergence is log-diameter, 4-6 rounds typical).
    * @param reliableCheckpoint cut lineage with a RELIABLE `checkpoint()`
    *        (requires `spark.sparkContext.setCheckpointDir`) instead of
    *        `localCheckpoint`. localCheckpoint stores blocks in executor
    *        memory/disk and loses them on executor failure — fine on
    *        local[N], wrong on a 1000-executor cluster where a lost
    *        executor mid-iteration would fail the whole job; production
    *        runs set a checkpoint dir (HDFS/S3) and this flag. Falls back
    *        to localCheckpoint when no dir is set. Both paths produce
    *        identical assignments (spec-pinned).
    * @param fastPathMaxEdges run driver union-find instead of the
    *        distributed loop when the canonical edge count (known anyway —
    *        the input-materialize action) is ≤ this; 0 disables.
    * @return (id, cluster_id) for every id appearing in `edges`. Callers
    *         union singletons (ids without edges) with cluster_id = id. */
  def run(spark: SparkSession, edges: DataFrame, maxIterations: Int = 50,
          reliableCheckpoint: Boolean = false,
          fastPathMaxEdges: Long = DriverFastPathMaxEdges): DataFrame = {
    import spark.implicits._
    val useReliable = reliableCheckpoint && spark.sparkContext.getCheckpointDir.isDefined
    // LAZY checkpoint: the per-iteration convergence-signature action
    // materializes it, so each round costs ONE job instead of an eager
    // checkpoint job plus the signature job — per-job scheduling is serial
    // driver time, the enemy of N→4N scaling efficiency
    def cut(df: DataFrame): DataFrame =
      if (useReliable) df.checkpoint(false) else df.localCheckpoint(false)

    // All loop persists route through IntermediateCaches so the documented
    // cache contract (Pipeline.clearIntermediateCaches) can release the
    // final converged star graph — the returned assignments are lazy over
    // it, so run() itself must not unpersist it. Superseded iterations are
    // unpersisted in-loop (the tracked double-release is a no-op).
    var e = IntermediateCaches.persistTracked(canonicalEdges(edges))

    var converged = false
    var iter = 0
    var prevSig: (Long, Long, Long) = (-1L, -1L, -1L)

    if (fastPathMaxEdges > 0) {
      // ONE action decides the plan AND feeds the fast path: collect up to
      // bound+1 canonical edges. Small graph (the common case at bench
      // scale): this scans every partition (limit never satisfied),
      // populating e's cache exactly like a count would — then union-find
      // on the driver, zero distributed rounds. Big graph: the limit
      // short-circuits early and the loop below pays one count to finish
      // cache materialization.
      // Two ceilings regardless of config: a hard 100M (beyond it the
      // union-find arrays outgrow any sane driver heap) and a HEAP-DERIVED
      // cap — the fast path transiently holds ~200 B/edge (collected Tuple2
      // array + open-addressing maps + output tuples), so it engages only
      // when that fits in a quarter of this driver's max heap. Spark's
      // spark.driver.memory DEFAULT is 1g: without this gate, a 3.5M-edge
      // graph that the old 2M bound routed to the distributed loop would
      // instead OOM an unconfigured driver.
      val bound = effectiveFastPathBound(fastPathMaxEdges)
      // ONE job wave for the limit-collect (ExecHints.singleWaveTake):
      // executeTake's default incremental scan-up paid up to
      // ⌈log₄(parts)⌉ + 1 SERIAL job submissions in the common small-graph
      // case (limit never satisfied). Scanning everything in wave 1 is
      // never wasted here: a small graph needs every partition anyway,
      // and a big graph falls through to the count() below, which needs
      // full materialization regardless (the cache keeps wave-1 work).
      val arr = ExecHints.singleWaveTake(spark) {
        e.limit(bound + 1).as[(Long, Long)].collect()
      }
      if (arr.length <= bound) {
        e.unpersist()
        // edges + the limit they were collected under, recorded as a pair:
        // mixing the largest limit ever seen with a max observed under a
        // smaller one would overstate the gauge's headroom. Record the
        // EFFECTIVE bound (post heap/100M caps), not the caller's config —
        // the gauge must pair the max with the gate it actually ran under.
        ScaleStats.recordCcDriverRun(arr.length.toLong, bound.toLong)
        val assigned = driverUnionFind(arr)
        // parallelize, NOT createDataset: a LocalRelation of up to 2×bound
        // rows would bloat every downstream plan and invite a broadcast of
        // the whole assignment table
        return spark.createDataset(
          spark.sparkContext.parallelize(assigned, spark.sparkContext.defaultParallelism))
          .toDF("id", "cluster_id")
      }
    }
    // materialize input once so iterations read only the cache
    val edgeCount = e.count()
    ScaleStats.ccDistributedRuns.incrementAndGet()
    ScaleStats.recordMax(ScaleStats.maxCcDistributedEdges, edgeCount)
    while (!converged && iter < maxIterations) {
      // TWO star rounds per convergence action: each action is one serial
      // job submission (driver scheduling + plan compile — the
      // size-independent Amdahl term that caps N→4N efficiency), and a
      // typical run needs 4-6 rounds, so checking every other round halves
      // the action count. Convergence stays exact: a converged graph is a
      // fixpoint of starRound, so its signature is unchanged by one round
      // or two; at worst one extra (no-op) round runs after the true
      // fixpoint. The lineage cut lands once per double-round.
      // Persist BEFORE the signature action and compute the signature FROM
      // the cached frame: the one action then populates the SQL cache as a
      // side effect of the scan (and materializes the lazy checkpoint).
      // Computing the signature on the raw `small` instead leaves the new
      // e's InMemoryRelation unpopulated when the next round plans over it,
      // which defeats exchange reuse across the double-star plan's repeated
      // references — measured as the same shuffle executing 10-15× per
      // round (90+ stages and 4× round-over-round wall growth at 1.2M
      // edges) versus ~14 stages with the cache warm.
      val small = IntermediateCaches.persistTracked(cut(doubleStarRound(e)))

      // convergence signature: summands bounded by 2^32 so the ANSI-mode
      // sum cannot overflow below ~2^31 edges per partition-set
      val sig = small.agg(
        count(lit(1)),
        coalesce(sum(shiftrightunsigned(xxhash64($"src", $"dst"), 32)), lit(0L)),
        coalesce(sum($"dst".bitwiseAND(lit(0xffffffffL))), lit(0L)))
        .as[(Long, Long, Long)].head()
      converged = sig == prevSig
      prevSig = sig
      e.unpersist()
      e = small
      iter += 2 // two star rounds ran — count both against maxIterations
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIterations star rounds " +
          s"($iter ran) — emitting the unconverged graph would silently produce " +
          "wrong cluster assignments; raise maxIterations")

    // star graph: every src points at its component's min id; roots appear
    // only as dst. Emit both directions of the assignment.
    val assignments = e.select($"src".as("id"), $"dst".as("cluster_id"))
      .unionByName(e.select($"dst".as("id"), $"dst".as("cluster_id")))
      .groupBy("id").agg(min($"cluster_id").as("cluster_id"))
    assignments
  }

  /** One large-star + small-star round as a lazy transform (Kiveris et
    * al.): input and output both in canonical src > dst orientation.
    *
    * WINDOW formulation, not groupBy(min)+join-back: the neighbourhood
    * minimum is attached to every edge row with min().over(partitionBy
    * (src)) — ONE reference to the input per star instead of the 3-4 a
    * join formulation needs (bi in the agg + bi in the join + the union).
    * That reference count is what decides whether the composed double-
    * round plan is executable: subtree copies multiply through the
    * composition, and Spark's exchange reuse does NOT collapse them all —
    * measured on 1.2M edges at 32 cores as 90-170 stages and 60-75 s PER
    * ROUND with the join form (the same shuffle re-executing 10-15×), vs
    * ~16 stages and 6-10 s with this form. Skew note: WindowExec buffers
    * one partition's rows (spilling via its unsafe-row buffer) where
    * groupBy would partial-agg map-side — acceptable here because
    * large-star's first round breaks giant stars apart, so high-degree
    * nodes shrink by round, and a spilled O(deg) buffer beats re-executing
    * every upstream shuffle. */
  /** Canonical self-loop-free edge set the star loop runs over: long-cast,
    * src > dst (least as `dst`, greatest as `src` — the star rounds orient
    * edges pointing DOWN to the smaller id), distinct. ONE definition so
    * tools that dump/replay the loop's plan (CcBench explain mode) can
    * never drift from what run() actually executes. */
  private[graft] def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("dst"),
              greatest(col("src"), col("dst")).as("src"))
      .select("src", "dst")
      .distinct()

  private[graft] def starRound(cur: DataFrame): DataFrame = {
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    // large-star: for each node u, m = min(Γ(u) ∪ {u}); connect every
    // strictly-larger neighbour to m. Both orientations are emitted with
    // ONE Generate over ONE reference — a self-union would reference cur
    // twice, and in the composed double-round plan that duplicates the
    // whole inner-round subtree (AQE's exchange-reuse stage cache misses
    // on it; observed as every inner shuffle executing twice).
    val bi = cur.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val large = bi
      .withColumn("m", least(col("src"), min(col("dst")).over(wSrc)))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()

    // small-star: edges point large→small after large-star; for each u,
    // m = min of its smaller neighbourhood ∪ itself (= min(dst): every
    // dst < src); connect the rest of the neighbourhood AND u to m. The
    // (u, m) row is emitted once per edge and deduped — a per-group
    // emission would need a second reference or an agg+join.
    large
      .withColumn("m", min(col("dst")).over(wSrc))
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** The per-convergence-action transform: two star rounds composed. */
  private[graft] def doubleStarRound(e: DataFrame): DataFrame =
    starRound(starRound(e))

  /** Driver-side union-find with path compression, min-id labeling —
    * the small-graph execution plan behind [[DriverFastPathMaxEdges]].
    * Deterministic: the final label of every node is the MIN id of its
    * component regardless of union order. Primitive open-addressing
    * id→index map + int parent array — no per-entry boxing, so the memory
    * at the bound stays in the documented ~200 MB envelope. */
  private[stages] def driverUnionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val maxNodes = edges.length * 2
    // open-addressing map: ids[slot] holds the node id (EMPTY = free),
    // idx[slot] its dense index; capacity = next pow2 ≥ 2×maxNodes.
    // Capacity math in Long: at a (misconfigured) fastPathMaxEdges near
    // Int.MaxValue, Int arithmetic would overflow negative, exit this loop
    // at cap=16 and turn indexOf's probe into an infinite loop once the 16
    // slots fill — a silent driver hang instead of a clean failure.
    var capL = 16L
    while (capL < maxNodes.toLong * 2) capL <<= 1
    require(capL <= (1L << 30),
      s"driver union-find capacity $capL exceeds array limits (${edges.length} edges); " +
        "lower ccFastPathMaxEdges")
    val cap = capL.toInt
    val used = new Array[Boolean](cap) // explicit occupancy: no sentinel id
    val ids = new Array[Long](cap)
    val slotIdx = new Array[Int](cap)
    val nodeId = new Array[Long](math.max(maxNodes, 1))
    val parent = new Array[Int](math.max(maxNodes, 1))
    var n = 0
    val mask = cap - 1
    def indexOf(id: Long): Int = {
      var s = (graft.expr.Hashing.mix64(id) & mask).toInt
      while (true) {
        if (!used(s)) {
          used(s) = true; ids(s) = id; slotIdx(s) = n
          nodeId(n) = id; parent(n) = n; n += 1
          return slotIdx(s)
        }
        if (ids(s) == id) return slotIdx(s)
        s = (s + 1) & mask
      }
      -1 // unreachable
    }
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var x = x0 // path compression
      while (parent(x) != r) { val nxt = parent(x); parent(x) = r; x = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(indexOf(a)), find(indexOf(b)))
        if (ra != rb) { // union by min-ID root keeps labels canonical
          if (nodeId(ra) < nodeId(rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    val out = new Array[(Long, Long)](n)
    var i = 0
    while (i < n) { out(i) = (nodeId(i), nodeId(find(i))); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Full assignment over a doc table: edge members get their component's
    * min id, everyone else (singletons + unlinkables) keeps their own id —
    * Splink semantics: "output one row per input record"
    * (person_1/link_model_per.py:830-837). */
  def assign(spark: SparkSession, docIds: DataFrame, edges: DataFrame,
             maxIterations: Int = 50, reliableCheckpoint: Boolean = false,
             fastPathMaxEdges: Long = DriverFastPathMaxEdges): DataFrame = {
    val cc = run(spark, edges, maxIterations, reliableCheckpoint, fastPathMaxEdges)
    docIds.select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }
}
