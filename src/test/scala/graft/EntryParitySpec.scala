package graft

import graft.fixtures.Corpus
import graft.model.EngineConfig
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** The three entry points build the same stage graph and differ only in
  * what happens at each stage boundary (plan, tracked cache, snapshot
  * commit) — so their assignments must agree row for row, on a cached and
  * an uncached input, under both exact-dedup split plans. */
class EntryParitySpec extends SparkSpec {
  import spark.implicits._

  private def assignments(df: DataFrame): Seq[(Long, Long)] =
    df.select("id", "cluster_id").as[(Long, Long)].collect().sortBy(_._1).toSeq

  for (cached <- Seq(true, false); byHash <- Seq(true, false))
    test(s"run / runLite / runResumable fresh + resumed agree " +
        s"(cached input = $cached, exactDedupByHash = $byHash)") {
      val cfg = EngineConfig.default.copy(exactDedupByHash = byHash)
      val base = Corpus.generate(spark, 400).select("id", "url", "warc_ts", "text", "lang")
      val docs = if (cached) base.persist() else base
      try {
        val viaRun = assignments(Pipeline.run(spark, docs, cfg).assignments)
        assert(viaRun.size == 400)
        assert(viaRun.map(_._2).distinct.size < 400, "fixture plants no duplicates")
        assert(assignments(Pipeline.runLite(spark, docs, cfg)) == viaRun, "runLite")
        val root = Files.createTempDirectory("graft-parity").toString
        assert(assignments(Pipeline.runResumable(spark, docs, root, cfg)) == viaRun,
          "runResumable (fresh)")
        assert(assignments(Pipeline.runResumable(spark, docs, root, cfg)) == viaRun,
          "runResumable (resumed)")
      } finally {
        if (cached) docs.unpersist()
        Pipeline.clearIntermediateCaches(spark)
      }
    }
}
