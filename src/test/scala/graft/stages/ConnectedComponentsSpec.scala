package graft.stages

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(spark, edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  /** Forced onto the distributed large-star/small-star loop. */
  private def ccDist(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(spark, edges.toDF("src", "dst"), fastPathMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap

  test("chain A-B-C collapses to min id (association-match transitivity)") {
    assert(cc(Seq((1L, 2L), (2L, 3L))) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star and reversed orientations") {
    assert(cc(Seq((5L, 1L), (1L, 9L), (7L, 1L))) ==
      Map(1L -> 1L, 5L -> 1L, 7L -> 1L, 9L -> 1L))
  }

  test("two components keep separate min labels") {
    val m = cc(Seq((1L, 2L), (10L, 11L), (11L, 12L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("self-loops and duplicate edges are harmless") {
    assert(cc(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L))) == Map(1L -> 1L, 2L -> 1L))
  }

  test("empty edge set") {
    assert(cc(Seq.empty) == Map.empty)
  }

  test("long path converges within iteration budget (distributed path)") {
    val path = (0L until 64L).map(i => (i, i + 1))
    val m = ccDist(path)
    assert(m.size == 65 && m.values.forall(_ == 0L))
  }

  test("starRound invariants: canonical orientation, connectivity preserved, star fixpoint") {
    val rnd = new java.util.SplittableRandom(61)
    val edges = (1 to 400).map(_ => (rnd.nextLong(250), rnd.nextLong(250)))
      .filter(e => e._1 != e._2)
    // canonical input, as the fast path's cache feeds the loop
    val canon = edges.map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .distinct.toDF("src", "dst")
    def comps(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val ids = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val idx = ids.zipWithIndex.toMap
      val parent = Array.tabulate(ids.size)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(idx(a)), find(idx(b)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ids.map(id => id -> ids(find(idx(id)))).toMap
    }
    val before = comps(edges)
    var cur = canon
    var star = false
    var round = 0
    while (!star && round < 20) {
      // one round: a streamed large-star pass, then a streamed small-star
      val out = ConnectedComponents.smallStar(ConnectedComponents.largeStar(cur))
        .as[(Long, Long)].collect().toSeq
      // 1. canonical orientation always holds
      assert(out.forall { case (s, d) => s > d }, s"non-canonical edge in round $round")
      // 2. every round preserves the component structure over the SAME
      //    node set (star rounds may only re-wire, never split or merge)
      val after = comps(out)
      val grouped = before.groupBy(_._2).values.map(_.keys.toSet).toSet
      assert(after.groupBy(_._2).values.map(_.keys.toSet).toSet == grouped,
        s"round $round changed the component partition")
      // 3. fixpoint is the star graph: every src points at its component min
      star = out.forall { case (s, d) => d == before(s) }
      // the loop's stop test certifies exactly that fixpoint
      cur = out.toDF("src", "dst")
      val breaks = ConnectedComponents.starForestBreaks(cur).count()
      assert((breaks == 0L) == star, s"stop test says $breaks breaks, star=$star in round $round")
      round += 1
    }
    assert(star, "star rounds did not reach the min-labelled star fixpoint in 20 rounds")
  }

  test("driver fast path and distributed loop produce identical assignments") {
    val rnd = new java.util.SplittableRandom(43)
    val edges = (1 to 300).map(_ => (rnd.nextLong(200), rnd.nextLong(200)))
      .filter(e => e._1 != e._2)
    assert(cc(edges) == ccDist(edges))
  }

  test("100-node random graph matches driver-side union-find") {
    val rnd = new java.util.SplittableRandom(17)
    val edges = (1 to 120).map(_ => (rnd.nextLong(100), rnd.nextLong(100)))
      .filter(e => e._1 != e._2)
    // driver-side union-find oracle
    val parent = Array.tabulate(100)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = (0 until 100).map(i => i.toLong -> {
      // canonical min via full resolution
      var r = i; while (parent(r) != r) r = parent(r); r.toLong
    }).toMap
    val got = cc(edges)
    val nodesInEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
    nodesInEdges.foreach { n =>
      assert(got(n) == truth(n.toInt), s"node $n: got ${got(n)}, want ${truth(n.toInt)}")
    }
  }

  test("reliable checkpoint path produces identical assignments (flag toggle)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val rnd = new java.util.SplittableRandom(29)
    val edges = (1 to 150).map(_ => (rnd.nextLong(80), rnd.nextLong(80)))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val local = ConnectedComponents.run(spark, edges, fastPathMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    val reliable = ConnectedComponents.run(spark, edges,
        reliableCheckpoint = true, fastPathMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == reliable)
    // and the reliable run actually wrote checkpoint data
    val wrote = new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty
    assert(wrote, "reliable path must write to the checkpoint dir")
  }

  test("exhausting maxIterations without fixpoint throws, never silently mislabels") {
    // a 200-node path needs ~8 star rounds; a budget of 2 rounds cannot
    // converge and must surface as a failure, not an unconverged cluster set
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.run(spark, path, maxIterations = 2, fastPathMaxEdges = 0L)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("distributed CC persists are released by clearIntermediateCaches") {
    graft.Pipeline.clearIntermediateCaches(spark) // flush older suite state
    // RDD ids, not a count: the older state that clear released is
    // reclaimed by the ContextCleaner while this test runs. The ids are
    // copied out: a keySet view would keep its map's RDDs reachable
    def ids = spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    val before = ids
    def created = ids -- before
    val rnd = new java.util.SplittableRandom(7)
    var results = (1 to 3).map { _ =>
      val edges = (1 to 200).map(_ => (rnd.nextLong(150), rnd.nextLong(150)))
        .filter(e => e._1 != e._2).toDF("src", "dst")
      val r = ConnectedComponents.run(spark, edges, fastPathMaxEdges = 0L)
      r.count()
      r
    }
    assert(created.nonEmpty,
      "expected the converged star graphs to be cached while results are live")
    results = IndexedSeq.empty
    graft.Pipeline.clearIntermediateCaches(spark)
    // clear() releases the tracked SQL caches synchronously; each final
    // localCheckpoint RDD is reclaimed by the ContextCleaner once
    // unreachable — poll with GC nudges for the combined drain
    val deadline = System.currentTimeMillis + 30000
    while (created.nonEmpty && System.currentTimeMillis < deadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(created.isEmpty, s"stranded cached RDDs after clear: ${created.size}")
  }

  test("distributed CC stores at most one iteration once its result is read") {
    // a 20,000-node path takes 16 star rounds (8 iterations); each
    // iteration's checkpoint must be its only stored copy, and a superseded
    // checkpoint must be released once its successor is filled
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keysIterator.toSet
    val path = (0L until 19999L).map(i => (i, i + 1)).toDF("src", "dst")
    val m = ConnectedComponents.run(spark, path, fastPathMaxEdges = 0L)
      .as[(Long, Long)].collect()
    assert(m.length == 20000 && m.forall(_._2 == 0L))
    val stored = sc.getRDDStorageInfo.filterNot(r => before.contains(r.id))
    assert(stored.length <= 1, s"storage holds ${stored.length} new RDDs after the action: " +
      stored.map(r => s"${r.name} (${r.memSize + r.diskSize} B)").mkString(", "))
  }

  test("effective fast-path bound honors config, heap, and the 100M ceiling") {
    val heapCap = Runtime.getRuntime.maxMemory() / 4L / 200L
    // configured below every cap → honored exactly
    assert(ConnectedComponents.effectiveFastPathBound(1000L) == 1000L)
    // huge config → capped by min(heap budget, 100M), never the raw value
    val big = ConnectedComponents.effectiveFastPathBound(Long.MaxValue)
    assert(big == math.min(heapCap, 100000000L).toInt)
    // zero stays zero (force-distributed contract unchanged)
    assert(ConnectedComponents.effectiveFastPathBound(0L) == 0)
  }

  test("assign: singletons keep their own id") {
    val ids = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val m = ConnectedComponents.assign(spark, ids, edges).as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }
}
