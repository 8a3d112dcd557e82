package graft.stages

import graft.model.EngineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Distributed connected components — the engine's replacement for Splink's
  * `cluster_pairwise_predictions_at_threshold`
  * (`person_1/link_model_per.py:830-837`; SURVEY §2.9).
  *
  * Alternating large-star / small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) on a Dataset of edges:
  * O(log n) rounds, no vertex state collected to the driver. Each star
  * pass is one hash exchange on the node plus a streamed pass over that
  * node's sorted neighbours. An iteration is two rounds under one lineage
  * cut (`localCheckpoint`, against the lineage blow-up that is the known
  * failure mode at scale, SURVEY §7.5.1) and ends in one aggregation that
  * stops the loop as soon as the graph is a min-rooted star forest. The
  * checkpoint is the iteration's only stored copy, and at most two are
  * stored at once: the one being filled and the one it reads.
  * Small edge sets skip the loop for driver union-find.
  *
  * Output invariant (SURVEY §1.4.3): cluster_id = MIN member id — relied on
  * by everything downstream in the reference (`WHERE id = cluster_id`
  * selects masters, `person_1/link_model_per.py:1447`).
  */
object ConnectedComponents {

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
    * @param maxIterations bound on star ROUNDS (one round = a large-star
    *        pass + a small-star pass; an iteration runs two rounds and then
    *        the stop test, so the loop may run one round past an odd
    *        bound). Exhausting the bound without reaching a star forest
    *        THROWS — an unconverged graph would silently yield a wrong
    *        cluster set, the worst failure mode. Practically unreachable at
    *        the default 50 (convergence is log-diameter, 2-6 rounds typical).
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
    *        distributed loop when the canonical edge count is ≤ this (one
    *        limit-collect decides, and its cache feeds the loop when the
    *        bound is exceeded); 0 disables, and the loop reads `edges`
    *        directly.
    * @return (id, cluster_id) for every id appearing in `edges`. Callers
    *         union singletons (ids without edges) with cluster_id = id. */
  def run(spark: SparkSession, edges: DataFrame,
          maxIterations: Int = EngineConfig.default.maxCcIterations,
          reliableCheckpoint: Boolean = EngineConfig.default.reliableCheckpoints,
          fastPathMaxEdges: Long = EngineConfig.default.ccFastPathMaxEdges): DataFrame = {
    import spark.implicits._
    val useReliable = reliableCheckpoint && spark.sparkContext.getCheckpointDir.isDefined
    // LAZY checkpoint: the iteration's stop-test action materializes it, so
    // the cut costs no job of its own — per-job scheduling is serial
    // driver time, the enemy of N→4N scaling efficiency
    def cut(df: DataFrame): DataFrame =
      if (useReliable) df.checkpoint(false) else df.localCheckpoint(false)

    // the loop's input: the fast path's canonical cache when it was
    // filled, else the caller's edges (which the loop never unpersists);
    // `release` frees g's stored copy once nothing reads it any more
    var g = edges
    var release: () => Unit = () => ()
    if (fastPathMaxEdges > 0) {
      val e = IntermediateCaches.persistTracked(canonicalEdges(edges))
      // ONE action decides the plan AND feeds the fast path: collect up to
      // bound+1 canonical edges. Small graph (the common case at bench
      // scale): union-find on the driver, zero distributed rounds. Big
      // graph: the collect has filled e's cache, and the loop starts from
      // it.
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
      // and a big graph's loop reads every cached partition.
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
      g = e
      release = () => e.unpersist()
    }

    ScaleStats.ccDistributedRuns.incrementAndGet()
    // the first large-star pass counts the distinct canonical edges as its
    // sorted stream meets them — the loop needs no count job
    val distinctEdges = spark.sparkContext.longAccumulator("cc_distinct_edges")
    // An iteration's checkpoint is its only stored copy: the stop-test
    // action's scan fills it, the next iteration reads only its blocks, and
    // the superseded graph is released then. The final checkpoint stays —
    // the returned assignments are lazy over it, also after
    // Pipeline.clearIntermediateCaches — until the ContextCleaner frees it
    // once no result references it.
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIterations) {
      val next = cut(starIteration(g, if (rounds == 0) Some(distinctEdges) else None))
      // one job wave for the take (ExecHints.singleWaveTake): any breaking
      // node anywhere means another iteration
      converged = ExecHints.singleWaveTake(spark) {
        starForestBreaks(next).limit(1).collect()
      }.isEmpty
      if (rounds == 0)
        ScaleStats.recordMax(ScaleStats.maxCcDistributedEdges, distinctEdges.value)
      release()
      g = next
      release = () => checkpointRdd(next).unpersist(blocking = false)
      rounds += 2
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIterations star rounds " +
          s"($rounds ran) — emitting the unconverged graph would silently produce " +
          "wrong cluster assignments; raise maxIterations")
    ScaleStats.recordMax(ScaleStats.maxCcStarRounds, rounds)

    // star forest: every src points at its component's min id; roots
    // appear only as dst. Emit both directions of the assignment.
    val assignments = g.select($"src".as("id"), $"dst".as("cluster_id"))
      .unionByName(g.select($"dst".as("id"), $"dst".as("cluster_id")))
      .groupBy("id").agg(min($"cluster_id").as("cluster_id"))
    assignments
  }

  /** The RDD whose blocks store a `cut` frame's rows. */
  private def checkpointRdd(cut: DataFrame): org.apache.spark.rdd.RDD[_] =
    cut.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Canonical self-loop-free edge set the fast path collects: long-cast,
    * src > dst (least as `dst`, greatest as `src` — the star passes orient
    * edges pointing DOWN to the smaller id), distinct. */
  private[graft] def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("dst"),
              greatest(col("src"), col("dst")).as("src"))
      .select("src", "dst")
      .distinct()

  /** One loop iteration as a lazy transform: two rounds, large-star,
    * small-star, large-star, small-star — four hash exchanges in a chain,
    * each pass reading the one before it once. */
  private[graft] def starIteration(g: DataFrame,
                                   distinctEdges: Option[LongAccumulator] = None): DataFrame =
    smallStar(largeStar(smallStar(largeStar(g, distinctEdges))))

  /** Large-star (Kiveris et al.): for each node u, m = min(Γ(u) ∪ {u});
    * emit (v, m) for every neighbour v > u. Reads edges in any
    * orientation, with self-loops and repeats; emits canonical edges
    * (src > dst) that may repeat. `distinctEdges`, if given, is credited
    * with the number of distinct undirected input edges. */
  private[graft] def largeStar(g: DataFrame,
                               distinctEdges: Option[LongAccumulator] = None): DataFrame = {
    val e = g.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    // both orientations from ONE Generate over ONE reference
    val bi = e.select(explode(array(
        struct(col("src").as("k"), col("dst").as("v")),
        struct(col("dst").as("k"), col("src").as("v")))).as("e"))
      .select(col("e.k"), col("e.v"))
    starPass(bi, large = true, distinctEdges.orNull)
  }

  /** Small-star over canonical edges (src > dst): for each node u,
    * m = its least neighbour, which is min(Γ(u) ∪ {u}) since every
    * neighbour is smaller; emit (v, m) for every other neighbour v, and
    * (u, m) once. Output is canonical and may repeat. */
  private[graft] def smallStar(g: DataFrame): DataFrame =
    starPass(g.select(col("src").as("k"), col("dst").as("v")), large = false, null)

  /** The PairGen plan shape: one hash exchange on the key, a sort by
    * (key, neighbour) within partitions, one streamed [[StarPass]]. */
  private def starPass(kv: DataFrame, large: Boolean, distinctEdges: LongAccumulator): DataFrame = {
    val spark = kv.sparkSession
    import spark.implicits._
    kv.repartition(spark.sessionState.conf.numShufflePartitions, col("k"))
      .sortWithinPartitions("k", "v")
      .as[(Long, Long)]
      .mapPartitions(rows => new StarPass(rows, large, distinctEdges))
      .toDF("src", "dst")
  }

  /** The per-partition pass of [[largeStar]] / [[smallStar]] over (k, v)
    * rows sorted by that pair. State is O(1) per key (the key, its m and
    * the last neighbour seen); a row equal to the one before it is
    * skipped, which stands in for a `distinct` of the previous pass's
    * output. Each remaining row emits at most one edge. */
  private final class StarPass(rows: Iterator[(Long, Long)], large: Boolean,
                               distinctEdges: LongAccumulator)
      extends Iterator[(Long, Long)] {
    private var open = false
    private var key = 0L
    private var last = 0L
    private var m = 0L
    private var out: (Long, Long) = null // the next edge, once found

    override def hasNext: Boolean = {
      while (out == null && rows.hasNext) {
        val (k, v) = rows.next()
        val newKey = !open || k != key
        if (newKey || v != last) {
          // the first row of a key holds its least neighbour
          if (newKey) { open = true; key = k; m = if (large) math.min(k, v) else v }
          last = v
          if (!large) out = (if (newKey) k else v, m)
          else if (v > k) {
            // a distinct (k, v) with v > k: each undirected edge once
            if (distinctEdges != null) distinctEdges.add(1L)
            out = (v, m)
          }
        }
      }
      out != null
    }
    override def next(): (Long, Long) = {
      if (!hasNext) throw new NoSuchElementException
      val e = out
      out = null
      e
    }
  }

  /** The loop's stop test: the nodes that break the min-rooted
    * star-forest shape — a src with two distinct dsts, or a src that is
    * also a dst. None means every component is a star around a node that
    * is only ever a dst, and canonical orientation (src > dst) makes that
    * root the component's min id: an exact certificate of
    * cluster_id = min(id), where a checksum of the edge set could collide.
    * One aggregation: a group-by on the node. */
  private[graft] def starForestBreaks(g: DataFrame): DataFrame =
    g.select(explode(array(
        struct(col("src").as("node"), col("dst").as("root")),
        struct(col("dst").as("node"), lit(null).cast("long").as("root")))).as("r"))
      .groupBy(col("r.node"))
      .agg(min(col("r.root")).as("lo"), max(col("r.root")).as("hi"),
           count(col("r.root")).as("as_src"), count(lit(1)).as("rows"))
      .filter(col("as_src") > 0 && (col("lo") =!= col("hi") || col("rows") > col("as_src")))
      .select("node")

  /** Driver-side union-find with path compression, min-id labeling —
    * the small-graph execution plan behind `EngineConfig.ccFastPathMaxEdges`.
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
             maxIterations: Int = EngineConfig.default.maxCcIterations,
             reliableCheckpoint: Boolean = EngineConfig.default.reliableCheckpoints,
             fastPathMaxEdges: Long = EngineConfig.default.ccFastPathMaxEdges): DataFrame = {
    val cc = run(spark, edges, maxIterations, reliableCheckpoint, fastPathMaxEdges)
    docIds.select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }
}
