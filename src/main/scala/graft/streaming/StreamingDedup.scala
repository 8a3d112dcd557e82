package graft.streaming

import graft.stages.{Blocking, Signatures}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface of the engine.
  *
  * The reference is pure batch (SURVEY §2.10 — "Streaming: none"), so the
  * batch pipeline is authoritative; this module is the streaming ingest
  * path a production deployment puts IN FRONT of it: late-data-tolerant
  * exact dedup at the crawl boundary plus windowed throughput metrics.
  * Near-dup clustering stays batch (global connected components has no
  * incremental form at this fidelity).
  */
object StreamingDedup {

  /** Exact-dup suppression on a stream of pages: watermark on crawl time,
    * keep the first row per content hash within the watermark horizon.
    * `dropDuplicatesWithinWatermark` is the built-in bounded-state form —
    * plain `dropDuplicates` on a non-event-time key would never evict its
    * state (the watermark only bounds state when the event-time column is
    * part of the dedup key), growing without bound on an infinite crawl. */
  def dedupStream(pages: DataFrame, watermark: String = "1 hour"): DataFrame =
    pages
      // TWO independent 64-bit hashes = a 128-bit key, the same standard
      // the batch path holds (ExactDedup.splitByHash): one xxhash64 alone
      // expects ~0.5 collisions per 2^32 docs in the horizon at crawl
      // scale, and a collision here silently DROPS a distinct document
      .withColumn("content_hash", xxhash64(col("text")))
      .withColumn("content_hash2", xxhash64(lit("graft-h2"), col("text")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash", "content_hash2")

  /** Tumbling-window ingest metrics (docs + distinct-ish content per window
    * per lang) — the streaming analog of the A8/A9 reporting aggregates. */
  def windowedStats(pages: DataFrame,
                    watermark: String = "1 hour",
                    window_ : String = "10 minutes"): DataFrame =
    pages
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), window_), col("lang"))
      .agg(count(lit(1)).as("docs"),
        approx_count_distinct(xxhash64(col("text"))).as("approx_distinct"))

  final case class BucketMember(id: Long, simhash: Long, tsMs: Long)
  final case class BucketState(members: List[BucketMember])
  final case class NearDupHit(id_l: Long, id_r: Long, hamming: Int, band: Int)

  /** Streaming near-duplicate candidate detector: flag likely near-dups of
    * incoming docs against the recent horizon, in-flight. The batch LSH
    * band rows ([[Blocking.bandRows]] over [[Signatures.withSignatures]])
    * key a bounded per-bucket state (most-recent `bucketCap` members,
    * evicted by event-time timeout one horizon after the bucket's last
    * arrival); each arrival is verified against bucket members by SimHash
    * Hamming distance (≤ cfg.hammingThreshold) before a hit is emitted.
    *
    * Scope (same stance as [[dedupStream]]'s docstring): this is the
    * ingest-side detector a production deployment runs IN FRONT of the
    * batch pipeline — authoritative clustering stays batch (global
    * connected components has no incremental form at this fidelity). The
    * same pair can hit in several bands (hits carry band provenance);
    * callers dedupe downstream (`dropDuplicates("id_l","id_r")` per sink
    * batch or in the batch join-back).
    *
    * State bound: buckets × bucketCap × 24 bytes — at 10^12 docs/horizon
    * the bucket keyspace is the band-hash range, sharded across executors
    * by groupByKey; no state key ever exceeds bucketCap members. */
  def nearDupCandidates(docs: DataFrame,
                        cfg: graft.model.EngineConfig = graft.model.EngineConfig.default,
                        watermark: String = "1 hour",
                        bucketCap: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hamThr = cfg.hammingThreshold
    // the batch signatures and band rows (PlanQualitySpec pins one
    // doc_sigs in the micro-batch plan); the watermark goes on
    // the band rows, which carry the event times of exactly the signed docs
    val buckets = Blocking
      .bandRows(Signatures.withSignatures(docs, cfg), cfg, col("warc_ts"), col("simhash"))
      .withWatermark("warc_ts", watermark)
      // the watermarked TIMESTAMP column must reach the stateful operator
      // unchanged — casting it away would disable event-time timeout
      .as[(Long, Long, java.sql.Timestamp, Long)]
    buckets
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val band = Blocking.bandOf(key)
            // members is kept sorted newest-first by (event time, id)
            var members = state.getOption.map(_.members).getOrElse(Nil)
            // Bound the per-trigger buffer: a boilerplate band bucket can
            // deliver millions of rows in ONE micro-batch to this single
            // group, and buffering them all (rows.toSeq) OOMs the task.
            // Keep only the newest batchCap rows by (event time, id) via a
            // bounded heap — deterministic regardless of iterator order —
            // mirroring the batch path's hot-bucket policy (PairGen chain
            // pairing): an over-hot bucket is boilerplate, and overflow
            // rows still meet their true near-dups via their other bands.
            val batchCap = bucketCap * 16
            val oldestFirst =
              Ordering.by((r: (Long, Long, Long)) => (r._2, r._1)).reverse
            val heap = scala.collection.mutable.PriorityQueue.empty(oldestFirst)
            rows.foreach { case (_, id, ts, sh) =>
              heap.enqueue((id, ts.getTime, sh))
              if (heap.size > batchCap) heap.dequeue() // drop the oldest
            }
            // dequeueAll emits oldest → newest: event-time processing order
            val batch = heap.dequeueAll
            val out = Seq.newBuilder[NearDupHit]
            batch.foreach { case (id, tsMs, sh) =>
              members.foreach { m =>
                if (m.id != id) {
                  val d = java.lang.Long.bitCount(m.simhash ^ sh)
                  if (d <= hamThr)
                    out += NearDupHit(math.min(m.id, id), math.max(m.id, id), d, band)
                }
              }
              // sorted insert + evict the OLDEST past cap: arrival-order
              // eviction could push out the newest-event-time member on a
              // late burst, silently shrinking the horizon anchored below
              val (newer, older) = members.span(m =>
                m.tsMs > tsMs || (m.tsMs == tsMs && m.id > id))
              members = (newer ::: BucketMember(id, sh, tsMs) :: older).take(bucketCap)
            }
            state.update(BucketState(members))
            // horizon anchors to the NEWEST member overall (head of the
            // sorted list) — a late-but-valid batch must not shrink the
            // horizon and evict live state
            state.setTimeoutTimestamp(members.head.tsMs, watermark)
            out.result().iterator
          }
      }.toDF()
  }

  // STATE SCHEMA v2 (epoch ms). v1 had no lastTs and ran under NoTimeout;
  // adding the field + switching to EventTimeTimeout changes the state
  // encoder, so a structured-streaming checkpoint written by v1 is
  // UNREADABLE by this operator — deployed streams must restart from a new
  // checkpoint location (state rebuilds from the source within the
  // watermark horizon). Any future field change carries the same cost:
  // bump this version note and plan a checkpoint migration.
  final case class UrlState(firstTs: Long, lastTs: Long, count: Long)
  final case class UrlUpdate(url: String, firstTs: Long, count: Long)

  /** Custom stateful op (mapGroupsWithState): per-url recrawl counter with
    * event-time state eviction — demonstrates the KeyValueGroupedDataset
    * state API the engine exposes for bespoke streaming state. */
  def recrawlCounter(pages: DataFrame, stateTtl: String = "1 hour",
                     watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    // EVENT-time eviction (same policy as nearDupCandidates): a url whose
    // newest crawl is stateTtl behind the watermark is dropped, bounding
    // the store by urls ACTIVE within the horizon rather than every url
    // ever seen on an infinite crawl. (Processing-time timeouts would also
    // make every no-data trigger re-run batches, livelocking
    // processAllAvailable-style drains.)
    // the watermarked COLUMN must reach the grouped Dataset's output —
    // Spark's event-time-timeout check looks for the watermark attribute
    // there, so the ms conversion happens inside the mapper, not a select
    pages.select(col("url"), col("warc_ts").cast("timestamp").as("__wts"))
      .withWatermark("__wts", watermarkDelay)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[UrlState, UrlUpdate](GroupStateTimeout.EventTimeTimeout()) {
        case (url, rows, state: GroupState[UrlState]) =>
          if (state.hasTimedOut) {
            // re-emit the final tally as the entry is dropped
            val last = state.get
            state.remove()
            UrlUpdate(url, last.firstTs, last.count)
          } else {
            // single-pass fold: buffering rows.toSeq would materialize a
            // hot url's entire micro-batch in one task (the OOM hazard
            // nearDupCandidates documents for the same iterator)
            var minTs = Long.MaxValue
            var maxTs = Long.MinValue
            var n = 0L
            rows.foreach { r =>
              val t = r._2.getTime
              if (t < minTs) minTs = t
              if (t > maxTs) maxTs = t
              n += 1
            }
            val prev = state.getOption.getOrElse(UrlState(minTs, maxTs, 0L))
            val next = UrlState(math.min(prev.firstTs, minTs),
              math.max(prev.lastTs, maxTs), prev.count + n)
            state.update(next)
            // anchor the TTL to the NEWEST crawl EVER seen, not this
            // batch's max: a late-but-above-watermark batch must not
            // shrink the eviction horizon (same policy nearDupCandidates
            // documents for its bucket state)
            state.setTimeoutTimestamp(next.lastTs, stateTtl)
            UrlUpdate(url, next.firstTs, next.count)
          }
      }.toDF()
  }
}
