package graft.stages

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Plain-Scala references for [[ConnectedComponents]]: components by
  * union-find labelled with their min id, and the large-star / small-star
  * operations of Kiveris et al. as sets over an in-memory edge list. */
object CcOracle {
  /** (id, min id of its component) for every id on a non-self-loop edge. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for ((a, b) <- edges if a != b) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(id => id -> find(id)).toMap
  }

  private def neighbours(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    edges.filter(e => e._1 != e._2).flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }

  /** For each u, m = min(Γ(u) ∪ {u}); (v, m) for every neighbour v > u. */
  def largeStar(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    neighbours(edges).toSeq.flatMap { case (u, ns) =>
      val m = math.min(u, ns.min)
      ns.filter(_ > u).map(v => (v, m))
    }.toSet

  /** Over canonical edges (src > dst): for each u, m = min of its smaller
    * neighbours; (v, m) for every other smaller neighbour v, and (u, m). */
  def smallStar(canonical: Seq[(Long, Long)]): Set[(Long, Long)] =
    canonical.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ns = es.map(_._2).toSet
      val m = ns.min
      (ns - m).map(v => (v, m)) + (u -> m)
    }.toSet
}

/** The distributed loop, the driver union-find and [[CcOracle]] agree on
  * random graphs — long paths, hubs with thousands of spokes, cliques and
  * small random graphs, with repeated edges in both orientations,
  * self-loops, negative and extreme ids — and each streamed star pass
  * equals its in-memory reference. */
class ConnectedComponentsPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Case(edges: Seq[(Long, Long)], inParts: Int, shuffleParts: Int) {
    // ScalaCheck prints the failing argument; the seed reproduces the edges
    override def toString: String = s"Case(${edges.size} edges, parts=$inParts/$shuffleParts)"
  }

  // edges over local node indices 0 until n
  private val genShape: Gen[(Int, Seq[(Int, Int)])] = Gen.frequency(
    2 -> Gen.choose(2, 2000).map(n => (n, (0 until n - 1).map(i => (i, i + 1)))),
    2 -> Gen.choose(2, 3000).map(n => (n, (1 until n).map(i => (0, i)))),
    2 -> Gen.choose(2, 25).map(n => (n, for (i <- 0 until n; j <- i + 1 until n) yield (i, j))),
    3 -> (for {
      n <- Gen.choose(2, 60)
      m <- Gen.choose(1, 90)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)))

  // real ids are xxhash64 values: negatives and the extremes occur
  private val genId: Gen[Long] = Gen.frequency(
    1 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue - 1, Long.MaxValue),
    3 -> Gen.choose(-50L, 50L),
    6 -> Gen.long)

  private val genCase: Gen[Case] = for {
    shapes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genShape))
    nodes = shapes.map(_._1).sum
    pool <- Gen.listOfN(nodes * 2 + 8, genId)
    ascending <- Gen.listOfN(shapes.size, Gen.prob(0.3))
    seed <- Gen.long
    dupShare <- Gen.choose(0.0, 0.3)
    loops <- Gen.choose(0, 5)
    inParts <- Gen.choose(1, 4)
    shuffleParts <- Gen.choose(1, 8)
  } yield {
    val rnd = new scala.util.Random(seed)
    // distinct ids; the generators' range pads the pool, a counter tops it up
    val ids = (pool.iterator ++ Iterator.from(1).map(_.toLong * 7919L)).distinct.take(nodes).toVector
    var base = 0
    val edges = shapes.zip(ascending).flatMap { case ((n, es), asc) =>
      // an ascending block keeps a path's ids monotone: the deepest case
      val block = ids.slice(base, base + n)
      val local = if (asc) block.sorted else block
      base += n
      es.map { case (a, b) => (local(a), local(b)) }
    }
    val oriented = edges.map(e => if (rnd.nextBoolean()) e.swap else e)
    val dups = oriented.filter(_ => rnd.nextDouble() < dupShare)
      .flatMap(e => Seq(e, e.swap))
    val selfLoops = Seq.fill(loops)(ids(rnd.nextInt(ids.size))).map(i => (i, i))
    Case(rnd.shuffle(oriented ++ dups ++ selfLoops), inParts, shuffleParts)
  }

  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, old)
  }

  private def check(c: Case): Prop = withShufflePartitions(c.shuffleParts) {
    val df = c.edges.toDF("src", "dst").repartition(c.inParts)
    def cc(fastPathMaxEdges: Long): Map[Long, Long] = {
      try ConnectedComponents.run(spark, df, fastPathMaxEdges = fastPathMaxEdges)
        .as[(Long, Long)].collect().toMap
      finally graft.Pipeline.clearIntermediateCaches(spark)
    }
    val want = CcOracle.components(c.edges)
    val driver = cc(graft.model.EngineConfig.default.ccFastPathMaxEdges)
    val distributed = cc(0L)
    // past the fast-path bound: the loop starts from the limit-collect's cache
    val overBound = cc(1L)
    val minLabelled = distributed.groupBy(_._2).forall { case (root, ms) => ms.keys.min == root }

    val large = ConnectedComponents.largeStar(df).as[(Long, Long)].collect().toSeq
    val small = ConnectedComponents.smallStar(large.toDF("src", "dst"))
      .as[(Long, Long)].collect().toSeq
    val largeWant = CcOracle.largeStar(c.edges)

    val summary = s"${c.edges.size} edges, ${want.size} nodes, " +
      s"parts=${c.inParts}/${c.shuffleParts}, edges=${c.edges.take(20)}"
    (Prop(distributed == want) :| s"distributed != oracle: $summary") &&
      (Prop(driver == want) :| s"driver != oracle: $summary") &&
      (Prop(overBound == want) :| s"over-bound loop != oracle: $summary") &&
      (Prop(minLabelled) :| s"cluster_id != min member id: $summary") &&
      (Prop(large.toSet == largeWant) :| s"large-star pass != reference: $summary") &&
      (Prop(small.toSet == CcOracle.smallStar(largeWant.toSeq)) :|
        s"small-star pass != reference: $summary")
  }

  test("distributed CC = driver union-find = oracle; star passes = Kiveris reference") {
    val seed = new java.util.Random().nextLong()
    val prop = Prop.forAllNoShrink(genCase)(check)
    val params = Test.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(Seed(seed))
    val res = Test.check(params, prop)
    assert(res.passed, s"initial seed ${seed}L: ${Pretty.pretty(res)}")
  }
}
