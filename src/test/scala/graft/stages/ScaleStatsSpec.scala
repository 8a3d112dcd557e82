package graft.stages

import graft.SparkSpec

class ScaleStatsSpec extends SparkSpec {
  import spark.implicits._

  test("PairGen counts its chained buckets when the pass runs") {
    def chained = ScaleStats.snapshot()("pairgen_max_big_keys_collected")
    ScaleStats.reset()
    // one hot key (100 members > cap 4) + one small key
    val buckets = ((1L to 100L).map(i => (7L, i, i)) ++ Seq((9L, 1L, 201L), (9L, 2L, 202L)))
      .toDF("key", "sort", "id")
    val pairs = PairGen.pairs(buckets, allPairsCap = 4)
    assert(chained === 0L) // lazy: nothing has run yet
    pairs.count()
    assert(chained === 1L)
    // with dropHotAbove above the cap only the chain band counts: key 7
    // (100 members) is dropped, key 8 (30 members) chains
    ScaleStats.reset()
    val banded = buckets.unionByName(
      (1L to 30L).map(i => (8L, i, 300L + i)).toDF("key", "sort", "id"))
    PairGen.pairs(banded, allPairsCap = 4, dropHotAbove = Some(50)).count()
    assert(chained === 1L)
    assert(ScaleStats.snapshot().keySet.filter(_.startsWith("pairgen_")) ===
      Set("pairgen_max_big_keys_collected"))
  }

  test("CC records edge counts per path: driver fast path vs distributed loop") {
    ScaleStats.reset()
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    ConnectedComponents.run(spark, edges).count() // under fast-path bound
    assert(ScaleStats.ccDriverRuns.get() === 1L)
    assert(ScaleStats.maxCcDriverEdges.get() === 3L)
    assert(ScaleStats.ccDistributedRuns.get() === 0L)

    ConnectedComponents.run(spark, edges, fastPathMaxEdges = 0L).count() // force distributed
    assert(ScaleStats.ccDistributedRuns.get() === 1L)
    assert(ScaleStats.maxCcDistributedEdges.get() === 3L)
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  test("CC reports the star rounds its distributed loop ran") {
    def rounds = ScaleStats.snapshot()("cc_max_star_rounds")
    ScaleStats.reset()
    // already a star: one iteration (two rounds) and the stop test passes
    ConnectedComponents.run(spark, (2L to 9L).map(i => (i, 1L)).toDF("src", "dst"),
      fastPathMaxEdges = 0L).count()
    assert(rounds === 2L)
    ScaleStats.reset()
    val n = 64
    ConnectedComponents.run(spark, (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst"),
      fastPathMaxEdges = 0L).count()
    val bound = 2 * (32 - Integer.numberOfLeadingZeros(n - 1)) + 2 // 2·⌈log2 n⌉ + 2
    assert(rounds >= 2L && rounds <= bound, s"$rounds rounds for a $n-node path")
    // the driver fast path runs no rounds
    ScaleStats.reset()
    ConnectedComponents.run(spark, Seq((1L, 2L)).toDF("src", "dst")).count()
    assert(rounds === 0L)
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  test("fast-path limit gauge pairs with the run that produced the edge max") {
    ScaleStats.reset()
    val big = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    ConnectedComponents.run(spark, big, fastPathMaxEdges = 10L).count()
    assert(ScaleStats.maxCcDriverEdges.get() === 2L)
    assert(ScaleStats.snapshot()("cc_driver_fast_path_limit") === 10L)
    // a later run under a BIGGER limit with FEWER edges must not re-label
    // the recorded max as having run under the bigger limit
    val small = Seq((5L, 6L)).toDF("src", "dst")
    ConnectedComponents.run(spark, small, fastPathMaxEdges = 4000000L).count()
    assert(ScaleStats.maxCcDriverEdges.get() === 2L)
    assert(ScaleStats.snapshot()("cc_driver_fast_path_limit") === 10L)
    graft.Pipeline.clearIntermediateCaches(spark)
  }
}
