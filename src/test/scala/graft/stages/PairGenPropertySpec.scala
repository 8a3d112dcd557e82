package graft.stages

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Plain-Scala reference for [[PairGen.pairs]]: group the (key, id, sort)
  * rows by key; a bucket of m members gets all pairs if
  * m ≤ min(allPairsCap, dropHotAbove), nothing if m > dropHotAbove, and
  * otherwise each member in (sort, id) order pairs with its next
  * `chainWidth` members. Returns the sorted (id_l, id_r, key) multiset. */
object PairGenOracle {
  def pairs(rows: Seq[(Long, Long, Long)], allPairsCap: Int = graft.model.EngineConfig.default.allPairsCap,
            dropHotAbove: Option[Int] = None,
            chainWidth: Int = 1): Seq[(Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (key, members) =>
      val m = members.size
      val ids = members.sortBy(r => (r._3, r._2)).map(_._2).toIndexedSeq
      val positions =
        if (dropHotAbove.exists(m > _)) Seq.empty
        else if (m <= allPairsCap) for (i <- 0 until m; j <- i + 1 until m) yield (i, j)
        else for (i <- 0 until m; j <- i + 1 to math.min(i + chainWidth, m - 1)) yield (i, j)
      positions.map { case (i, j) =>
        (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)), key)
      }
    }.filter(p => p._1 != p._2).sorted
}

/** [[PairGen.pairs]] equals [[PairGenOracle]] on random bucket tables:
  * bucket sizes on both sides of allPairsCap and dropHotAbove (unset,
  * below the cap, above it), sort ties, chainWidth 1–4, and random input
  * and shuffle partition counts. */
class PairGenPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Case(rows: Seq[(Long, Long, Long)], cap: Int, drop: Option[Int],
                          width: Int, inParts: Int, shuffleParts: Int)

  private val genCase: Gen[Case] = for {
    cap <- Gen.choose(0, 8)
    drop <- Gen.oneOf(Gen.const(None), Gen.choose(0, cap).map(Some(_)),
      Gen.choose(cap + 1, cap + 8).map(Some(_)))
    width <- Gen.choose(1, 4)
    inParts <- Gen.choose(1, 6)
    shuffleParts <- Gen.choose(1, 6)
    nKeys <- Gen.choose(1, 12)
    // up to 3 past the larger bound, so every size class shows up
    sizes <- Gen.listOfN(nKeys, Gen.choose(1, math.max(cap, drop.getOrElse(0)) + 3))
    // a few wide keys, the rest small ones that share partitions densely
    keys <- Gen.listOfN(nKeys, Gen.oneOf(Gen.long, Gen.choose(-3L, 20L)))
    // 3 sort values: members of one bucket tie often, so id breaks ties
    sorts <- Gen.listOfN(sizes.sum, Gen.choose(-1L, 1L))
    idBase <- Gen.choose(-1000000L, 1000000L)
    idOrder <- Gen.long
  } yield {
    // ids are unique across the table, as in every engine caller
    val ids = new scala.util.Random(idOrder).shuffle((0L until sizes.sum.toLong).toVector)
      .map(_ + idBase)
    val keyed = keys.zip(sizes).flatMap { case (k, m) => Seq.fill(m)(k) }
    val rows = keyed.indices.map(i => (keyed(i), ids(i), sorts(i)))
    Case(rows, cap, drop, width, inParts, shuffleParts)
  }

  private def run(c: Case): Seq[(Long, Long, Long)] = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, c.shuffleParts.toLong)
    try PairGen.pairs(c.rows.toDF("key", "id", "sort").repartition(c.inParts),
        c.cap, c.drop, c.width)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    finally spark.conf.set(key, old)
  }

  test("PairGen.pairs equals the plain-Scala oracle on random bucket tables") {
    val seed = new java.util.Random().nextLong()
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val got = run(c)
      val want = PairGenOracle.pairs(c.rows, c.cap, c.drop, c.width)
      Prop(got == want) :| (s"cap=${c.cap} drop=${c.drop} width=${c.width} " +
        s"parts=${c.inParts}/${c.shuffleParts} rows=${c.rows}: " +
        s"missing ${want.diff(got).take(5)}, extra ${got.diff(want).take(5)}")
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(seed))
    val res = Test.check(params, prop)
    assert(res.passed, s"initial seed ${seed}L: ${Pretty.pretty(res)}")
  }
}
