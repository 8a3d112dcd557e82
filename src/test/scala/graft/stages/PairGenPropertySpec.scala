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

  /** Plain-Scala reference for [[PairGen.sharedKeys]] over (id, distinct
    * keys) docs: [[pairs]] over the (key, id, sort = id) rows, counted per
    * pair, with both docs' key counts. Sorted (id_l, id_r, shared, n_l, n_r). */
  def sharedKeys(docs: Seq[(Long, Seq[Long])], allPairsCap: Int,
                 dropHotAbove: Int): Seq[(Long, Long, Long, Int, Int)] = {
    val n = docs.map { case (id, keys) => id -> keys.size }.toMap
    val rows = docs.flatMap { case (id, keys) => keys.map(k => (k, id, id)) }
    pairs(rows, allPairsCap, Some(dropHotAbove)).groupBy(p => (p._1, p._2)).toSeq
      .map { case ((l, r), ps) => (l, r, ps.size.toLong, n(l), n(r)) }.sorted
  }
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

  private case class KeysCase(docs: Seq[(Long, Seq[Long])], cap: Int, drop: Int,
                              inParts: Int, shuffleParts: Int)

  /** Doc-key tables with one doc of no keys, one key held by exactly
    * `drop` docs and one by `drop + 1`, plus random keys; the cap is mostly
    * below `drop`, so the chain band runs. */
  private val genKeysCase: Gen[KeysCase] = for {
    drop <- Gen.choose(1, 6)
    cap <- Gen.frequency(3 -> Gen.choose(0, drop - 1), 1 -> Gen.choose(drop, drop + 2))
    inParts <- Gen.choose(1, 6)
    shuffleParts <- Gen.choose(1, 6)
    nDocs <- Gen.choose(drop + 1, drop + 10)
    nRandom <- Gen.choose(0, 8)
    // distinct keys; the first two get the `drop` and `drop + 1` holders
    keys <- Gen.listOfN(nRandom + 2, Gen.oneOf(Gen.long, Gen.choose(-3L, 20L)))
      .map(ks => (ks ++ Seq(Long.MinValue, Long.MaxValue)).distinct)
    holders <- Gen.sequence[List[Seq[Int]], Seq[Int]](
      (Seq(drop, drop + 1) ++ Seq.fill(nRandom)(-1)).map { m =>
        val size = if (m > 0) Gen.const(m) else Gen.choose(1, nDocs)
        size.flatMap(k => Gen.pick(k, 0 until nDocs)).map(_.toSeq)
      })
    idBase <- Gen.choose(-1000000L, 1000000L)
  } yield {
    val held = keys.zip(holders).flatMap { case (k, ds) => ds.map(_ -> k) }.groupMap(_._1)(_._2)
    // doc nDocs holds no key: an empty array
    val docs = (0 to nDocs).map(d => (idBase + d, held.getOrElse(d, Seq.empty)))
    KeysCase(docs, cap, drop, inParts, shuffleParts)
  }

  test("PairGen.sharedKeys equals the plain-Scala oracle on random doc-key tables") {
    val seed = new java.util.Random().nextLong()
    val prop = Prop.forAllNoShrink(genKeysCase) { c =>
      val key = "spark.sql.shuffle.partitions"
      val old = spark.conf.get(key)
      spark.conf.set(key, c.shuffleParts.toLong)
      val got = try PairGen.sharedKeys(c.docs.toDF("id", "keys").repartition(c.inParts), c.cap, c.drop)
          .as[(Long, Long, Long, Int, Int)].collect().toSeq.sorted
        finally { spark.conf.set(key, old); graft.Pipeline.clearIntermediateCaches(spark) }
      val want = PairGenOracle.sharedKeys(c.docs, c.cap, c.drop)
      Prop(got == want) :| (s"cap=${c.cap} drop=${c.drop} parts=${c.inParts}/${c.shuffleParts} " +
        s"docs=${c.docs}: missing ${want.diff(got).take(5)}, extra ${got.diff(want).take(5)}")
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(30).withInitialSeed(Seed(seed))
    val res = Test.check(params, prop)
    assert(res.passed, s"initial seed ${seed}L: ${Pretty.pretty(res)}")
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
