package graft.tools

import graft.fixtures.Corpus
import graft.streaming.StreamingDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming ingest micro-bench (VERDICT r4 item 8): drive
  * [[StreamingDedup.nearDupCandidates]] with real micro-batches and record
  *
  *   - ingest throughput (docs/s over the drained batches),
  *   - state-store footprint (buckets held, bytes) vs the documented
  *     bucketCap bound (members/bucket ≤ cap, 24 B/member),
  *   - the eviction counter (state rows removed by event-time timeout) —
  *     observed non-zero, proving the horizon actually drops state.
  *
  * Batches advance event time by `minutesPerBatch`, so with watermark W a
  * bucket last touched in batch k times out once the watermark passes
  * (k·step + W) — the later batches MUST evict if the policy works.
  * Usage: `sbt -batch "runMain graft.tools.StreamProbe 100000 10"`.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 100000
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val cores = sys.env.getOrElse("GRAFT_CORES", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // state store shards = shuffle partitions for the stateful operator
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // recentProgress must retain every batch of one drain (see below)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // deterministic corpus (near-dup structure included); event time is
    // re-assigned per batch so the horizon advances under our control
    val rows = Corpus.generate(spark, n.toLong, includeHtml = false)
      .select("id", "text").as[(Long, String)].collect()
    val perBatch = math.max(1, rows.length / nBatches)
    val baseMs = 1704067200000L // 2024-01-01T00:00Z, fixed epoch
    val stepMs = 5L * 60 * 1000 // 5 min of event time per batch
    val watermark = "10 minutes"
    val bucketCap = 64

    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDF().toDF("id", "warc_ts", "text")
    // memory sink (not noop): it reports sink row counts AND holds only
    // the emitted hit pairs, a tiny fraction of the ingested volume
    val q = StreamingDedup.nearDupCandidates(df, watermark = watermark,
        bucketCap = bucketCap)
      .writeStream.format("memory").queryName("stream_probe_hits")
      .outputMode(OutputMode.Append()).start()

    var fed = 0L
    var maxStateRows = 0L
    var maxStateBytes = 0L
    var evicted = 0L
    // Eviction accounting sums over ALL progress events, deduped by
    // batchId (ADVICE r5): sampling only lastProgress per drain dropped
    // the earlier batches of a multi-micro-batch drain (e.g. an extra
    // timeout-only batch) and re-added the previous drain's counts when a
    // drain produced no new progress. recentProgress is scanned after
    // EVERY drain, so the retention buffer (raised to 10,000 above) only
    // has to hold one drain's batches — the scan is synchronous and exact,
    // with no listener-bus delivery race. Batch ids run 0, 1, 2, …, every
    // drain adds at least one, and the buffer drops its oldest entries
    // first: a gap, or a drain with no new batch, means a batch left the
    // buffer before it was scanned and the eviction count would be short,
    // so the probe fails instead.
    val seenBatches = scala.collection.mutable.Set.empty[Long]
    def accountProgress(): Unit = {
      val before = seenBatches.size
      for (p <- q.recentProgress; if seenBatches.add(p.batchId);
           so <- p.stateOperators) {
        maxStateRows = math.max(maxStateRows, so.numRowsTotal)
        maxStateBytes = math.max(maxStateBytes, so.memoryUsedBytes)
        evicted += so.numRowsRemoved
      }
      val missing = (0L until seenBatches.size.toLong).filterNot(seenBatches)
      val lost = if (missing.isEmpty) "this drain's batches" else s"batches ${missing.take(5).mkString(",")}"
      require(seenBatches.size > before && missing.isEmpty,
        s"progress of $lost was evicted before it was read: " +
          "raise spark.sql.streaming.numRecentProgressUpdates")
    }
    val t0 = System.nanoTime()
    rows.grouped(perBatch).zipWithIndex.foreach { case (batch, b) =>
      val ts = new java.sql.Timestamp(baseMs + b * stepMs)
      input.addData(batch.map { case (id, text) => (id, ts, text) }.toSeq)
      q.processAllAvailable()
      fed += batch.length
      accountProgress()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val hits = spark.table("stream_probe_hits").count()
    q.stop()
    val docsPerSec = fed / wall
    println(f"[stream] $fed docs in $nBatches batches, $wall%.1f s = $docsPerSec%.0f docs/s")
    println(s"[stream] state: max $maxStateRows buckets, max $maxStateBytes bytes " +
      s"(bound/bucket = $bucketCap members x 24 B); evicted state rows = $evicted")
    println(s"[stream] near-dup hits emitted = $hits")
    assert(evicted > 0, "event-time eviction never fired — horizon policy broken")
    val json = Map[String, Any](
      "docs" -> fed, "batches" -> nBatches, "wall_sec" -> f"$wall%.1f",
      "docs_per_sec" -> f"$docsPerSec%.0f", "max_state_buckets" -> maxStateRows,
      "max_state_bytes" -> maxStateBytes, "bucket_cap" -> bucketCap,
      "evicted_state_rows" -> evicted, "hits" -> hits, "cores" -> cores)
      .toSeq.sortBy(_._1).map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    spark.stop()
    println(json)
  }
}
