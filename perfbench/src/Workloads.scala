package perfbench

import graft.expr.Hashing.mix64
import graft.fixtures.Corpus
import graft.model.EngineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated input: the persisted `(id, text)` frame the engine receives,
  * plus what the checks need, kept on the driver. */
final class Input(val docs: DataFrame, val truth: Array[(Long, Long)], val textBytes: Long) {
  def nDocs: Long = truth.length.toLong

  /** Re-persist after a cache clear, outside any timed window. */
  def repersist(): Unit = { docs.persist(); docs.count() }

  def release(): Unit = docs.unpersist(true)
}

object Input {
  /** `rows` has columns (id, text, truth); the engine sees only (id, text). */
  def of(rows: DataFrame): Input = {
    val docs = rows.select("id", "text").persist()
    val local = rows.select(col("id"), col("truth"), octet_length(col("text")).cast("long"))
      .collect()
    docs.count()
    new Input(docs, local.map(r => (r.getLong(0), r.getLong(1))), local.map(_.getLong(2)).sum)
  }
}

final case class SkewRow(id: Long, text: String, truth: Long)

/** The workloads. Each input is a pure function of the seed. Sizes keep one
  * run (JVM start, set-up with warm-up, the measured calls, a commit and its
  * resumes) at about 45-50 s on 4 cores. */
object Workloads {
  val WebMixedDocs = 8192L
  /** A multiple of [[DupSkew.BlockSize]]. */
  val DupSkewDocs = 2048L

  /** dup_skew forces the large-star/small-star CC path that every
    * production-scale run takes. */
  val dupSkewCfg: EngineConfig = EngineConfig.default.copy(ccFastPathMaxEdges = 0L)

  /** A `Corpus.GroupSize`-aligned window of the planted web corpus. */
  def webMixed(spark: SparkSession, seed: Long, n: Long): Input = {
    import spark.implicits._
    val offset = Math.floorMod(mix64(seed ^ 0x3EB0L), 1L << 32) * Corpus.GroupSize
    Input.of(spark.range(offset, offset + n).map(i => Corpus.rowFor(i, includeHtml = false))
      .toDF().select(col("id"), col("text"), col("truth_cluster").as("truth")))
  }

  def dupSkew(spark: SparkSession, seed: Long, n: Long): Input = {
    import spark.implicits._
    val offset = Math.floorMod(mix64(seed ^ 0x5CE3L), 1L << 32) * DupSkew.BlockSize
    Input.of(spark.range(n).map(i => DupSkew.row(seed, offset, i)).toDF())
  }
}

/** Generator built for LSH skew. Each block of [[BlockSize]] docs holds
  * [[ShortDocs]] short docs that are mostly one of [[Templates]] shared,
  * seed-independent boilerplate headers (below the Jaccard threshold of each
  * other, so they are planted singletons that still collide in whole LSH
  * bands), then near-duplicate clusters of [[ClusterSizes]], three of them
  * above the engine's all-pairs cap of 64 so PairGen takes its chain path. */
object DupSkew {
  val BlockSize = 1024
  val ShortDocs = 360
  val ClusterSizes: Array[Int] = Array(8, 16, 32, 48, 96, 160, 304)
  require(ShortDocs + ClusterSizes.sum == BlockSize)
  val Templates = 4
  val TemplateTokens = 40
  val UniqueTokens = 12
  private val clusterStarts: Array[Int] = ClusterSizes.scanLeft(ShortDocs)(_ + _)

  private def word(h: Long, vocab: Long): String =
    "w" + java.lang.Long.toString(Math.floorMod(h, vocab), 36)

  def row(seed: Long, offset: Long, i: Long): SkewRow = {
    val block = i / BlockSize
    val p = (i % BlockSize).toInt
    val id = offset + i
    if (p < ShortDocs) {
      val t = p % Templates
      val sb = new StringBuilder
      var j = 0
      while (j < TemplateTokens) {
        sb.append(word(mix64(0x7E3L * (t + 1) + j), 50000L)).append(' ')
        j += 1
      }
      j = 0
      while (j < UniqueTokens) {
        if (j > 0) sb.append(' ')
        sb.append(word(mix64(mix64(seed ^ id) + j), 1L << 40))
        j += 1
      }
      SkewRow(id, sb.toString, id)
    } else {
      val c = clusterStarts.lastIndexWhere(_ <= p)
      val member = p - clusterStarts(c)
      val base = mix64(mix64(seed ^ (block * 31 + c)) ^ 0xC1A55L)
      // length fixed by the cluster's slot, so total text bytes (and with
      // them the byte ratios) do not swing with the seed
      val len = 100 + 25 * c
      val toks = Array.tabulate(len)(k => word(mix64(base ^ (k * 0x632BE59BD9B4E019L)), 30000L))
      if (member > 0) {
        // 1-2 token substitutions: pairwise Jaccard of 3-shingles stays
        // above the 0.7 threshold at the shortest base length
        var h = mix64(id ^ 0xED17L)
        val edits = 1 + Math.floorMod(h, 2L).toInt
        var e = 0
        while (e < edits) {
          h = mix64(h)
          toks(Math.floorMod(h, len.toLong).toInt) = word(mix64(h ^ 0xE1L), 30000L)
          e += 1
        }
      }
      SkewRow(id, toks.mkString(" "), offset + block * BlockSize + clusterStarts(c))
    }
  }
}
