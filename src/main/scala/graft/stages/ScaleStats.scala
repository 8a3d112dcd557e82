package graft.stages

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

/** Driver-side telemetry for the engine's skew and bounded-collect paths.
  *
  * Connected components collects EDGES to the driver below the fast-path
  * threshold — a driver-memory bound argued rather than observed; these
  * counters record what it actually sees at run time so a scale probe can
  * report observed headroom instead of an argument (VERDICT r3 item 2).
  * The distributed loop reports its edge count and star rounds. PairGen
  * reports how many hot buckets took its chain path. Updated only
  * on the driver (CC's record sites run once per invocation, after an
  * action; PairGen's as its tasks finish), so plain atomics are enough;
  * values are maxima across invocations since [[reset]].
  */
object ScaleStats {
  /** Most hot buckets one [[PairGen.pairs]] pass chained (snapshot key
    * `pairgen_max_big_keys_collected`, kept from when those keys were
    * collected to the driver). */
  val maxBigKeysCollected = new AtomicLong(0L)
  /** Largest edge set CC resolved via the driver union-find fast path. */
  val maxCcDriverEdges = new AtomicLong(0L)
  /** The fast-path bound of the RUN that produced [[maxCcDriverEdges]] —
    * the gauge the probes compare it against. Recorded as a pair with the
    * max (see [[recordCcDriverRun]]), from the run's effective parameter,
    * NOT the object default: pairing the largest limit ever seen with a
    * max observed under a smaller limit (or reporting the constant)
    * overstates headroom — e.g. 0.9M edges collected under a 1M limit
    * must not read as "0.9M under 4M". */
  val ccFastPathLimitUsed = new AtomicLong(0L)
  /** Largest edge count CC resolved via the distributed star loop. */
  val maxCcDistributedEdges = new AtomicLong(0L)
  /** Most star rounds (large-star + small-star) one converged loop ran. */
  val maxCcStarRounds = new AtomicLong(0L)
  /** Invocation counts per CC path. */
  val ccDriverRuns = new AtomicLong(0L)
  val ccDistributedRuns = new AtomicLong(0L)

  private[stages] def recordMax(a: AtomicLong, v: Long): Unit = {
    var cur = a.get()
    while (v > cur && !a.compareAndSet(cur, v)) cur = a.get()
  }

  /** One CC driver fast-path run: keep (max edges, limit of that run) as
    * an atomic PAIR so the snapshot never mixes observations across runs
    * with different limits. */
  private[stages] def recordCcDriverRun(edges: Long, limit: Long): Unit = synchronized {
    ccDriverRuns.incrementAndGet()
    if (edges > maxCcDriverEdges.get()) {
      maxCcDriverEdges.set(edges)
      ccFastPathLimitUsed.set(limit)
    }
  }

  /** One PairGen pass's chained-bucket count. Tasks add to executor-side
    * copies; the driver merges each finished task's count here and folds
    * the running total into [[maxBigKeysCollected]], so the gauge costs no
    * action of its own. A re-executed task counts again, as with any
    * accumulator updated inside a transformation. */
  private[stages] final class ChainedKeys extends LongAccumulator {
    override def merge(other: AccumulatorV2[java.lang.Long, java.lang.Long]): Unit = {
      super.merge(other)
      recordMax(maxBigKeysCollected, sum)
    }
  }

  def reset(): Unit =
    Seq(maxBigKeysCollected, maxCcDriverEdges,
      maxCcDistributedEdges, maxCcStarRounds, ccDriverRuns, ccDistributedRuns,
      ccFastPathLimitUsed).foreach(_.set(0L))

  def snapshot(): Map[String, Long] = {
    // Read the (max edges, limit) pair under the SAME lock the writer
    // holds — a concurrent snapshot between the two writer sets would
    // otherwise pair the new max with the previous run's limit.
    val (ccEdges, ccLimit) = synchronized {
      (maxCcDriverEdges.get(), ccFastPathLimitUsed.get())
    }
    Map(
      "pairgen_max_big_keys_collected" -> maxBigKeysCollected.get(),
      "cc_max_driver_edges" -> ccEdges,
      "cc_max_distributed_edges" -> maxCcDistributedEdges.get(),
      "cc_max_star_rounds" -> maxCcStarRounds.get(),
      "cc_driver_fast_path_limit" -> ccLimit,
      "cc_driver_runs" -> ccDriverRuns.get(),
      "cc_distributed_runs" -> ccDistributedRuns.get())
  }
}
