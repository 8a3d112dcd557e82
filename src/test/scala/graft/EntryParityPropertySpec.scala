package graft

import graft.model.EngineConfig
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** [[EntryParitySpec]] on generated corpora: `run`, `runLite`, a fresh
  * `runResumable` and a `runResumable` resumed after a kill at a random
  * snapshot stage give equal sorted (id, cluster_id) rows. Corpora plant
  * near-dup clusters larger than `allPairsCap`, boilerplate shared by more
  * docs than `substringDfCap` (PairGen's `dropHotAbove` in the substring
  * pass), empty, whitespace-only and surrogate-pair texts, and equal texts
  * under distinct ids; ids are distinct random longs of either sign. */
class EntryParityPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Case(docs: Seq[(Long, String)], cap: Int, dfCap: Int, cached: Boolean,
                          killAt: Int, shuffleParts: Int) {
    // ScalaCheck prints the failing argument; the seed reproduces the texts
    override def toString: String =
      s"Case(${docs.size} docs, allPairsCap=$cap, substringDfCap=$dfCap, cached=$cached, " +
        s"killAt=${Pipeline.SnapshotStages(killAt)}, shuffleParts=$shuffleParts)"
  }

  private val vocab = (0 until 120).map(i => s"w$i") ++
    Seq("😀", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "naïve", "日本語", "a😀b")

  private val boilerplate =
    "All rights reserved. Subscribe to our newsletter for weekly updates and offers."

  private def words(n: Int): Gen[Vector[String]] = Gen.listOfN(n, Gen.oneOf(vocab)).map(_.toVector)

  /** A base text and `size` members: the base with 0–3 words replaced. */
  private def cluster(size: Int): Gen[Seq[String]] = for {
    base <- Gen.choose(6, 40).flatMap(words)
    edits <- Gen.listOfN(size, Gen.listOfN(3, Gen.zip(Gen.choose(0, base.size - 1), Gen.oneOf(vocab))))
    nEdits <- Gen.listOfN(size, Gen.choose(0, 3))
  } yield edits.zip(nEdits).map { case (es, k) =>
    es.take(k).foldLeft(base) { case (t, (i, w)) => t.updated(i, w) }.mkString(" ")
  }

  private val genCase: Gen[Case] = for {
    cap <- Gen.choose(2, 6)
    dfCap <- Gen.choose(2, 6)
    sizes <- Gen.listOfN(5, Gen.choose(1, 10))
    clusters <- Gen.sequence[Seq[Seq[String]], Seq[String]](sizes.map(cluster))
    withBoiler <- Gen.listOfN(sizes.sum, Gen.prob(0.4))
    special <- Gen.someOf("", " ", "\t \n", "😀", "😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 a😀b", "w1 w2", boilerplate)
    repeats <- Gen.choose(1, 3)
    idSeed <- Gen.long
    cached <- Gen.prob(0.5)
    killAt <- Gen.choose(0, Pipeline.SnapshotStages.size - 1)
    shuffleParts <- Gen.choose(1, 8)
  } yield {
    val planted = clusters.flatten.zip(withBoiler).map { case (t, b) => if (b) s"$t $boilerplate" else t }
    // each special text appears `repeats` times: equal texts, distinct ids
    val texts = planted ++ special.toSeq.flatMap(Seq.fill(repeats)(_))
    val rnd = new scala.util.Random(idSeed)
    val ids = Iterator.continually(rnd.nextLong() % 1000000L).distinct.take(texts.size).toSeq
    Case(ids.zip(texts), cap, dfCap, cached, killAt, shuffleParts)
  }

  private def sorted(df: DataFrame): Seq[(Long, Long)] =
    df.select("id", "cluster_id").as[(Long, Long)].collect().sortBy(_._1).toSeq

  /** (entry point, its assignments) for the four entry points. */
  private def entries(c: Case): Seq[(String, Seq[(Long, Long)])] = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, c.shuffleParts.toLong)
    val cfg = EngineConfig.default.copy(allPairsCap = c.cap, substringDfCap = c.dfCap)
    val base = c.docs.toDF("id", "text")
    val docs = if (c.cached) base.persist() else base
    try {
      val root = Files.createTempDirectory("graft-parity-prop").toString
      val fresh = sorted(Pipeline.runResumable(spark, docs, root, cfg))
      Pipeline.SnapshotStages.drop(c.killAt)
        .foreach(st => Files.delete(Paths.get(root, "manifests", s"$st.json")))
      Seq("run" -> sorted(Pipeline.run(spark, docs, cfg).assignments),
        "runLite" -> sorted(Pipeline.runLite(spark, docs, cfg)),
        "runResumable fresh" -> fresh,
        "runResumable resumed" -> sorted(Pipeline.runResumable(spark, docs, root, cfg)))
    } finally {
      spark.conf.set(key, old)
      if (c.cached) docs.unpersist()
      Pipeline.clearIntermediateCaches(spark)
    }
  }

  test("run / runLite / runResumable fresh + resumed agree on generated corpora") {
    val seed = new java.util.Random().nextLong()
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val got = entries(c)
      val (_, want) = got.head
      val differing = got.tail.filter(_._2 != want).map(_._1)
      Prop(want.size == c.docs.size && differing.isEmpty) :|
        s"${want.size} rows for ${c.docs.size} docs; differing from run: $differing"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(3).withInitialSeed(Seed(seed))
    val res = Test.check(params, prop)
    assert(res.passed, s"initial seed ${seed}L: ${Pretty.pretty(res)}")
  }
}
