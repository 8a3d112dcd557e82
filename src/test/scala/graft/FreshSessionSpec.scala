package graft

import graft.compare.{Comparisons, PersonOps}
import graft.model.EngineConfig
import graft.sim.Knn
import graft.stages.{Blocking, Scoring, Signatures, Substring}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Every operator that reaches a custom expression must resolve on a
  * session nothing was run on before: each test gets its own
  * `newSession()`, whose function registry holds only Spark's builtins. */
class FreshSessionSpec extends SparkSpec {
  private val cfg = EngineConfig.default

  private def fresh[A](body: SparkSession => A): A = {
    val s = spark.newSession()
    try body(s) finally Pipeline.clearIntermediateCaches(s)
  }

  private def words(n: Int, tag: String): Seq[String] = (1 to n).map(i => s"$tag$i")

  test("signatures → candidates → score → exactVerify on a fresh session") {
    fresh { s =>
      import s.implicits._
      val base = words(80, "w")
      val docs = Seq(
        (1L, base.mkString(" ")),
        (2L, base.updated(40, "changed").mkString(" ")),
        (3L, words(80, "other").mkString(" "))).toDF("id", "text")
      val sigs = Signatures.withSignatures(docs, cfg).select("id", "minhash", "simhash")
      val scored = Scoring.score(Blocking.candidatePairs(sigs, cfg), sigs, cfg)
      val edges = Scoring.exactVerify(scored, docs, cfg)
        .filter(col("level") >= 1)
        .select("id_l", "id_r", "jaccard_exact").as[(Long, Long, Double)].collect()
      assert(edges.map(e => (e._1, e._2)).toSeq == Seq((1L, 2L)), edges.mkString(","))
      assert(edges.head._3 > cfg.jaccardThreshold)
    }
  }

  test("Substring.edges on a fresh session") {
    fresh { s =>
      import s.implicits._
      val full = words(200, "t")
      val docs = Seq((1L, full.mkString(" ")), (2L, full.slice(40, 160).mkString(" ")))
        .toDF("id", "text")
      val edges = Substring.edges(docs, cfg).select("src", "dst").as[(Long, Long)].collect()
      assert(edges.toSeq == Seq((1L, 2L)), edges.mkString(","))
    }
  }

  test("nameComparison (jaro_winkler, dmetaphone) on a fresh session") {
    fresh { s =>
      import s.implicits._
      val got = Seq((1, "martha", "marhta"), (2, "geoff", "jeff")).toDF("k", "l", "r")
        .withColumn("dm_l", PersonOps.dmetaphone(col("l")))
        .withColumn("dm_r", PersonOps.dmetaphone(col("r")))
        .select(col("k"),
          Comparisons.nameComparison(col("l"), col("r"), col("dm_l"), col("dm_r")))
        .as[(Int, Int)].collect().toMap
      assert(got == Map(1 -> 2, 2 -> 1))
    }
  }

  test("Knn.embedDedup on a fresh session") {
    fresh { s =>
      import s.implicits._
      val emb = Seq(
        (1L, Array(1f, 0f, 0f, 0f)),
        (2L, Array(1f, 0.001f, 0f, 0f)),
        (3L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
      val got = Knn.embedDedup(s, emb).as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    }
  }
}
