package graft.stages

import graft.expr.GraftFunctions
import graft.model.EngineConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-duplicate pre-pass (SURVEY §1.4.1, §7.2 module 4).
  *
  * Reference: rows identical on the match columns are removed before linking
  * (keep rn=1, `person_1/link_model_per.py:142-149,186-188`) and carry
  * `master_id = MIN(id) OVER (PARTITION BY …)` (`:248-255`); they re-attach
  * to their master's cluster afterwards (`:933-1021`).
  *
  * Web analog: identical `text` → one survivor per text; holdouts keep the
  * survivor's id as `master_id`. Partition key is `(xxhash64(text), text)` —
  * hash first so the shuffle key is cheap and uniformly distributed, full
  * text second so equality is exact (no reliance on hash collision-freedom
  * at 10^12 docs).
  */
object ExactDedup {

  /** @param persistRanked cache the ranked frame (MEMORY_AND_DISK):
    *        survivors feed several downstream JOBS (signatures job, exact
    *        verify, substring, the final assignment action) and holdouts a
    *        later one — without the cache each job re-runs the full-text
    *        window shuffle. Serial re-work like this is exactly what caps
    *        N→4N scaling efficiency. The cache lives until the session
    *        drops it (callers returning lazy frames cannot unpersist).
    * @return (survivors, holdouts) — survivors keep all input columns;
    *         holdouts are (id, master_id). */
  def split(docs: DataFrame, persistRanked: Boolean = false): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(xxhash64(col("text")), col("text"))
    val ranked0 = docs
      .withColumn("__rn", row_number().over(w.orderBy(col("id"))))
      .withColumn("__master", min(col("id")).over(w))
    val ranked = if (persistRanked)
      IntermediateCaches.persistTracked(ranked0)
    else ranked0
    val survivors = ranked.filter(col("__rn") === 1).drop("__rn", "__master")
    val holdouts = ranked.filter(col("__rn") > 1)
      .select(col("id"), col("__master").as("master_id"))
    (survivors, holdouts)
  }

  /** Scale-path variant of [[split]]: the window form above shuffles the
    * ENTIRE corpus text (the widest possible shuffle — at 100 TB that is
    * 100 TB through one exchange). This form shuffles 24 bytes/row instead:
    * group on a 128-bit content hash (two independently-seeded xxhash64 —
    * pair-collision probability ~2^-128, the content-addressing standard;
    * "exact" dup detection at 10^12 docs is hash-exact by construction,
    * like every CAS system), then subtract the holdout ids from the corpus
    * with an anti-join that AQE turns into a broadcast when the holdout set
    * is small (typical) and a hash join when it is not (10^12-dup corner).
    * Same contract as [[split]]: survivor = min id per identical text.
    *
    * The holdout (id, master) pairs ride the narrow hash table, so the only
    * full-width data movement left is the survivors' own anti-join — text
    * never enters a shuffle key or a window sort. */
  def splitByHash(docs: DataFrame, idCol: String = "id",
                  persistHoldouts: Boolean = false): (DataFrame, DataFrame) = {
    // cached (engine-tracked, 25 B/row): keyed feeds BOTH the group
    // aggregate and the holdout join below — uncached, each reference
    // re-ran the two full-text xxhash64 passes over the corpus (the
    // dominant narrow cost of this stage). At 10^12 docs the cache is
    // narrow-row MEMORY_AND_DISK spill; the alternative is re-hashing the
    // full corpus text per reference (guide §2.4: share one computation).
    val keyed = IntermediateCaches.persistTracked(contentKeys(docs, idCol))
    val grp = keyed.groupBy("__h1", "__h2", "__hn")
      .agg(min(col(idCol)).as("master_id"), count(lit(1)).as("__n"))
    val holdouts0 = keyed
      .join(grp.filter(col("__n") > 1), Seq("__h1", "__h2", "__hn"))
      .filter(col(idCol) =!= col("master_id"))
      .select(col(idCol), col("master_id"))
    val holdouts = if (persistHoldouts)
      IntermediateCaches.persistTracked(holdouts0)
    else holdouts0
    val survivors = docs.join(holdouts.select(col(idCol)), Seq(idCol), "left_anti")
    (survivors, holdouts)
  }

  /** (`idCol`, `__h1`, `__h2`, `__hn`): the content key of every row's `text`.
    * Two independent 64-bit hashes: the salt literal goes FIRST, so the
    * second hash runs over the text with a genuinely different seed
    * (xxhash64 folds columns left-to-right with the running hash as seed
    * — text-then-salt would make __h2 a pure function of __h1, collapsing
    * the pair to 64 bits). NULL text hashes over '' with an explicit
    * __hn marker column, so null-text duplicates group together, join
    * with plain equality (no null-rejecting key), and stay distinct from
    * empty-string text — exactly the window plan's partition semantics. */
  private def contentKeys(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol),
      xxhash64(coalesce(col("text"), lit(""))).as("__h1"),
      xxhash64(lit(0x9e3779b9L), coalesce(col("text"), lit(""))).as("__h2"),
      isnull(col("text")).as("__hn"))

  /** Order-insensitive fingerprint of a doc table's (id, text) rows: the
    * XOR of one 64-bit hash per (id, content key) row, plus the row count,
    * as `"<hash hex>:<rows>"`. Equal tables give equal fingerprints under
    * any partitioning or row order. One Spark job: per-partition partials
    * combined on the driver (a DataFrame aggregate runs its exchange as a
    * second job), and exact under task retries, unlike an observed metric. */
  def inputFingerprint(docs: DataFrame): String = {
    val (hash, rows) = contentKeys(docs, "id")
      .select(xxhash64(col("id"), col("__h1"), col("__h2"), col("__hn")))
      .rdd
      .aggregate((0L, 0L))((acc, r) => (acc._1 ^ r.getLong(0), acc._2 + 1),
                           (a, b) => (a._1 ^ b._1, a._2 + b._2))
    f"$hash%016x:$rows"
  }

  /** J4 holdout re-attach (`person_1/link_model_per.py:945-953`: left
    * merge of exact dups onto cluster assignments + fillna fallback):
    * every exact-dup holdout inherits its MASTER's cluster assignment, so
    * transitive chains (holdout → master → near-dup cluster) resolve in
    * one join. The left-join + coalesce keeps a holdout whose master never
    * reached assignment (defensive: ids outside `survivorAssign`) in its
    * own master-rooted cluster instead of dropping it.
    *
    * ONE definition for the three call sites (the pipeline's stage graph
    * behind run/runLite/runResumable, q37, q39) — the re-attach semantics
    * must not drift per path.
    *
    * @param survivorAssign (id, cluster_id) for every survivor
    * @param holdouts frame with (`idCol`, master_id)
    * @param idCol holdout id column name (q37/q39 pass "doc_id")
    * @return (id, cluster_id) covering survivors + holdouts */
  def reattach(survivorAssign0: DataFrame, holdouts: DataFrame,
               idCol: String = "id"): DataFrame = {
    // cached (engine-tracked, 16 B/row): the assignment frame is referenced
    // twice (the union branch and the holdout join) — uncached, its
    // docIds-join subtree executed once per reference in the caller's
    // action (guide §2.4: share one computation across references)
    val survivorAssign = IntermediateCaches.persistTracked(survivorAssign0)
    val ha = holdouts
      .join(survivorAssign.withColumnRenamed("id", "__sid"),
        holdouts("master_id") === col("__sid"), "left")
      .select(holdouts(idCol).as("id"),
        coalesce(col("cluster_id"), col("master_id")).as("cluster_id"))
    survivorAssign.unionByName(ha)
  }
}

/** Signature stage (SURVEY §7.2 module 5): Dataset[doc] → doc + minhash
  * (null for an unlinkable doc: fewer than `shingleK` tokens) + simhash.
  * Narrow — no shuffle; signatures computed in one pass per document via
  * the custom Catalyst expressions. */
object Signatures {
  def withSignatures(docs: DataFrame, cfg: EngineConfig): DataFrame =
    docs
      // fused kernel: ONE tokenization yields both signatures (separate
      // minhash and simhash expressions each re-scanned and re-hashed the
      // full text — measured as the pipeline's most expensive narrow
      // stage). The struct is aliased in its own projection and the fields
      // extracted in a SECOND projection: CollapseProject declines to merge
      // a multi-referenced non-cheap alias, so doc_sigs evaluates once per
      // row (PlanQualitySpec pins one doc_sigs call in the optimized plan).
      .withColumn("__sig", GraftFunctions.docSigs(col("text"), cfg))
      .withColumn("minhash", col("__sig").getField("minhash"))
      .withColumn("simhash", col("__sig").getField("simhash"))
      .drop("__sig")
}

/** Skew-aware candidate-pair generation from (key, id, sort) bucket rows.
  *
  * Shared by LSH blocking, the winnowing substring pass and the ANN paths.
  * This is the engine's answer to the reference's skew problem ("michael
  * b" block = 793,881 comparisons, `person_1/link_model_per.py:526-529`) —
  * required explicitly by the north_rule ("hot LSH buckets").
  *
  * - buckets with ≤ allPairsCap members → all pairs (exactly Splink's
  *   blocking self-join J3 semantics);
  * - hot buckets → O(n) chain pairing: members sorted by (sort, id), each
  *   linked to the next `chainWidth` members. Connectivity within the
  *   bucket is preserved (clustering is over the transitive closure),
  *   nothing is silently dropped; near-identical docs sort adjacently when
  *   sort = simhash;
  * - with `dropHotAbove`, buckets larger than it emit nothing.
  *
  * A bucket's pairs depend only on its own members (cf. *Implementing
  * Distributed Similarity Joins using LSH*, EDBT 2022), so ONE pass over
  * key-partitioned, sorted rows decides and emits every bucket.
  */
object PairGen {

  /** @param buckets columns: key:long, id:long, sort:long (non-null)
    * @param dropHotAbove if set, buckets larger than this are excluded
    *        entirely (document-frequency pruning — used by the substring
    *        pass where a high-df fingerprint is boilerplate, not evidence;
    *        the LSH path never drops)
    * @param chainWidth how many following members each member of a hot
    *        bucket pairs with (1 = the consecutive chain)
    * @return pairs (id_l, id_r, key) with id_l < id_r.
    *
    * Plan: one hash exchange on the key, a sort within partitions by
    * (key, sort, id), and one `mapPartitions` pass — no driver action, no
    * cache, no window. A bucket of m members gets all pairs if
    * m ≤ min(allPairsCap, dropHotAbove), nothing if m > dropHotAbove, and
    * the width-`chainWidth` chain otherwise. At most
    * `dropHotAbove.getOrElse(allPairsCap)` + 1 ids are buffered per bucket:
    * that many members decide its fate, and without `dropHotAbove` the
    * chain then streams. A mega-bucket is one task's sorted run either
    * way — the key exchange already puts all its rows in one partition.
    * Each chained bucket adds 1 to a LongAccumulator that feeds
    * [[ScaleStats.maxBigKeysCollected]] as the pass's tasks finish. */
  def pairs(buckets: DataFrame, allPairsCap: Int = EngineConfig.default.allPairsCap,
            dropHotAbove: Option[Int] = None, chainWidth: Int = 1): DataFrame = {
    require(allPairsCap >= 0 && dropHotAbove.forall(_ >= 0) && chainWidth >= 1,
      s"bad PairGen bounds: allPairsCap=$allPairsCap dropHotAbove=$dropHotAbove chainWidth=$chainWidth")
    val spark = buckets.sparkSession
    import spark.implicits._
    // typed as the base class: tasks deserialize a plain LongAccumulator copy
    val chained: org.apache.spark.util.LongAccumulator = new ScaleStats.ChainedKeys
    spark.sparkContext.register(chained, "pairgen_chained_keys")
    val allUpTo = math.min(allPairsCap, dropHotAbove.getOrElse(Int.MaxValue))
    val decideAt = dropHotAbove.getOrElse(allPairsCap)
    val drops = dropHotAbove.isDefined
    buckets
      .select(col("key").cast("long"), col("sort").cast("long"), col("id").cast("long"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("key"))
      .sortWithinPartitions("key", "sort", "id")
      .as[(Long, Long, Long)]
      .mapPartitions(rows => new BucketPairs(rows, allUpTo, decideAt, drops, chainWidth, chained))
      .toDF("id_l", "id_r", "key")
      .filter(col("id_l") =!= col("id_r"))
  }

  /** The per-partition pass of [[pairs]] over (key, sort, id) rows sorted
    * by that triple. Pairs come out as (least, greatest, key). */
  private final class BucketPairs(rows: Iterator[(Long, Long, Long)], allUpTo: Int,
                                  decideAt: Int, drops: Boolean, width: Int,
                                  chained: org.apache.spark.util.LongAccumulator)
      extends Iterator[(Long, Long, Long)] {
    private val Buffering = 0
    private val Streaming = 1
    private val Dropping = 2
    // current bucket: its first ≤ decideAt + 1 members in `ids`; once it
    // streams, the last `width` members in `ring` (member p at p % width)
    private var ids = new Array[Long](math.min(decideAt + 1L, 1024L).toInt)
    private val ring = new Array[Long](width)
    private var n = 0L
    private var key = 0L
    private var open = false
    private var mode = Buffering
    // pairs ready to return, flattened (id_l, id_r, key)
    private var out = new Array[Long](3 * 64)
    private var outN = 0
    private var outI = 0

    private def emit(a: Long, b: Long): Unit = {
      if (outN + 3 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      out(outN) = math.min(a, b); out(outN + 1) = math.max(a, b); out(outN + 2) = key
      outN += 3
    }
    /** Pairs each buffered member with its next `w` (w ≥ n - 1: all pairs). */
    private def pairBuffered(w: Long): Unit = {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j <= i + w && j < n) { emit(ids(i), ids(j)); j += 1 }
        i += 1
      }
    }
    private def chainBuffered(): Unit = { pairBuffered(width); chained.add(1L) }
    private def add(id: Long): Unit = {
      if (mode == Buffering) {
        if (n == ids.length)
          ids = java.util.Arrays.copyOf(ids, math.min(ids.length * 2L, decideAt + 1L).toInt)
        ids(n.toInt) = id
        n += 1
        if (n > decideAt) {
          if (drops) mode = Dropping
          else {
            chainBuffered()
            var p = math.max(0L, n - width)
            while (p < n) { ring((p % width).toInt) = ids(p.toInt); p += 1 }
            mode = Streaming
          }
        }
      } else {
        if (mode == Streaming) {
          var d = 1
          while (d <= width && d <= n) { emit(ring(((n - d) % width).toInt), id); d += 1 }
          ring((n % width).toInt) = id
        }
        n += 1
      }
    }
    private def close(): Unit = {
      if (mode == Buffering) { if (n <= allUpTo) pairBuffered(n) else chainBuffered() }
      open = false
    }

    override def hasNext: Boolean = {
      while (outI == outN && (open || rows.hasNext)) {
        outI = 0; outN = 0
        if (rows.hasNext) {
          val (k, _, id) = rows.next()
          if (open && k != key) close()
          if (!open) { key = k; open = true; n = 0L; mode = Buffering }
          add(id)
        } else close()
      }
      outI < outN
    }
    override def next(): (Long, Long, Long) = {
      if (!hasNext) throw new NoSuchElementException
      outI += 3
      (out(outI - 3), out(outI - 2), out(outI - 1))
    }
  }
}

/** LSH blocking (SURVEY §7.2 module 6) — replaces Splink's blocking rules
  * (J3, `person_1/link_model_per.py:501-507`): explode band hashes, pair
  * within buckets, dedup pairs across bands keeping the lowest band index
  * as provenance (≙ Splink match_key, `person_1/link_model_per.py:489`).
  *
  * The bucket key packs the band index into the top 8 bits of the 64-bit
  * band hash — provenance is recovered with a shift, no extra join, and
  * the key stays a primitive long through PairGen's whole pass (hash
  * exchange, partition sort, the typed per-partition kernel).
  *
  * Collision math for the 56-bit hash space at target scale (why this is
  * safe at 10^12 docs and a struct (band_idx, hash64) key is not needed):
  * band hashes are band-seeded, so truncation collisions only merge
  * buckets WITHIN a band. At 10^12 docs a band holds ≤ 2^40 distinct keys;
  * expected colliding key pairs per band ≈ (2^40)^2 / (2 · 2^56) = 2^23,
  * ×128 bands (worst banding) ≈ 2^30 spurious bucket merges. Bucket
  * occupancy is ~1 doc for the non-skew mass, so each merge adds O(1)
  * spurious candidate pairs → ~10^9 extra candidates against the ~10^12+
  * genuine candidate volume at that scale: ≤ 0.1% inflation, every such
  * pair still exact-verified downstream (Scoring.exactVerify), and two
  * hot buckets colliding are chain-paired not cross-multiplied
  * (PairGen caps), so no quadratic blowup path exists. Correctness is
  * unaffected (candidates are a superset either way); the cost is the
  * bounded candidate inflation above.
  */
object Blocking {

  /** One row per (signed doc, band): the bucket `key`, `id`, then the
    * `carry` columns. The key holds the band index in its top 8 bits
    * ([[bandOf]]) and the band hash's top 56 bits below it. Batch blocking
    * and the streaming detector both bucket docs through it. An unsigned
    * doc (null minhash) gets no row: `posexplode` of its null band-hash
    * array emits nothing. A `minhash IS NOT NULL` filter would be pushed
    * below the signature projection with a second `doc_sigs` in it.
    * @param sigs columns: id, minhash and what `carry` reads */
  def bandRows(sigs: DataFrame, cfg: EngineConfig, carry: Column*): DataFrame = {
    val exploded = sigs
      .select((col("id") +: carry) :+
        posexplode(GraftFunctions.bandHashes(col("minhash"), cfg)).as(Seq("band_idx", "band_hash")): _*)
    exploded.select((shiftleft(col("band_idx").cast("long"), 56)
        .bitwiseOR(shiftrightunsigned(col("band_hash"), 8))).as("key") +:
      exploded.columns.toSeq.filterNot(Set("band_idx", "band_hash")).map(col): _*)
  }

  /** The band index of a [[bandRows]] key. */
  def bandOf(key: Long): Int = (key >>> 56).toInt

  /** @param sigs columns: id, minhash, simhash (from [[Signatures]])
    * @return candidate pairs (id_l, id_r, match_key). */
  def candidatePairs(sigs: DataFrame, cfg: EngineConfig): DataFrame =
    PairGen.pairs(bandRows(sigs, cfg, col("simhash").as("sort")), cfg.allPairsCap)
      .groupBy("id_l", "id_r")
      .agg(min(shiftrightunsigned(col("key"), 56)).cast("int").as("match_key"))
}

/** Pair scoring (SURVEY §7.2 module 7): per-pair similarity features +
  * ordered-level decision, the analog of Splink's gamma levels + match
  * weight (§2.11 "ordered levels, first match wins"). */
object Scoring {

  /** @param pairs (id_l, id_r, match_key); sigs (id, minhash, simhash).
    * @return scored edges with level ≥ 1 semantics left to the caller. */
  def score(pairs: DataFrame, sigs: DataFrame, cfg: EngineConfig): DataFrame = {
    val l = sigs.select(
      col("id").as("id_l"), col("minhash").as("mh_l"), col("simhash").as("sh_l"))
    val r = sigs.select(
      col("id").as("id_r"), col("minhash").as("mh_r"), col("simhash").as("sh_r"))
    pairs.join(l, "id_l").join(r, "id_r")
      .withColumn("jaccard_est", GraftFunctions.minhashAgree(col("mh_l"), col("mh_r")))
      .withColumn("hamming", bit_count(col("sh_l").bitwiseXOR(col("sh_r"))))
      .withColumn("level",
        when(col("jaccard_est") >= cfg.jaccardThreshold, 2)
          .when(col("hamming") <= cfg.hammingThreshold, 1)
          .otherwise(0))
      .withColumn("reason",
        when(col("level") === 2, concat(lit("minhash-band="), col("match_key")))
          .when(col("level") === 1, lit("simhash-hamming"))
          .otherwise(lit("below-threshold")))
      .select("id_l", "id_r", "match_key", "jaccard_est", "hamming", "level", "reason")
  }

  /** Threshold filter (≙ P5 `match_probability >= 0.95` then
    * `match_weight > 22`, person_1/link_model_per.py:791,812-814). */
  def edges(scored: DataFrame): DataFrame =
    scored.filter(col("level") >= 1).select(col("id_l").as("src"), col("id_r").as("dst"))

  /** Staged-predicate exact verification (SURVEY §4 "Threshold pushdown"):
    * the cheap MinHash estimate gates the expensive exact-Jaccard check.
    * Only docs touched by surviving candidates are re-shingled (left-semi
    * against the broadcast candidate id set — the candidate set is tiny
    * relative to the corpus), so the exact pass costs O(candidates), not
    * O(corpus). Level-2 pairs whose exact Jaccard misses the threshold are
    * demoted (to 1 if SimHash still matches, else 0) — engine edges then
    * agree exactly with the all-pairs oracle definition. Returns the rows
    * of `scored0` the estimate passed (level ≥ 1, a demoted one at its
    * new level) with `jaccard_exact` and `jaccard_tf` (null unless
    * `tfWeighting`); `docs` has columns id, text. */
  def exactVerify(scored0: DataFrame, docs: DataFrame, cfg: EngineConfig): DataFrame = {
    // cached (engine-tracked, narrow ~60 B/row): the candidates are
    // referenced twice below (→ ids, → the exact join; three times with
    // tfWeighting) — uncached, the two-sided signature join behind them
    // re-executed per reference (exchange reuse does not collapse the
    // composed copies). The cache is bounded by candidate-pair volume.
    val cand = IntermediateCaches.persistTracked(scored0.filter(col("level") >= 1))
    // no explicit broadcast hints: the candidate id set is usually tiny
    // (AQE will broadcast it), but at high duplicate rates it can approach
    // corpus size — the plan must stay valid either way
    val ids = cand.select(explode(array(col("id_l"), col("id_r"))).as("id")).distinct()
    // cached (engine-tracked): touched feeds BOTH sides of the exact join —
    // uncached, every candidate doc was re-shingled twice (shingleHashes is
    // the expensive narrow kernel here). Bounded by candidate-doc volume ×
    // shingle arrays — the same data the join shuffles anyway.
    val touched = IntermediateCaches.persistTracked(docs.join(ids, Seq("id"), "left_semi")
      .select(col("id"),
        GraftFunctions.shingleHashes(col("text"), cfg.shingleK).as("__sh")))
    val withExact = cand
      .join(touched.select(col("id").as("id_l"), col("__sh").as("__sh_l")), "id_l")
      .join(touched.select(col("id").as("id_r"), col("__sh").as("__sh_r")), "id_r")
      .withColumn("jaccard_exact", GraftFunctions.jaccardArrays(col("__sh_l"), col("__sh_r")))
      .drop("__sh_l", "__sh_r")
    // optional df-weighted gate (A1 full analog of the reference's
    // term_frequency_adjustments, person_1/link_model_per.py:614-651):
    // boilerplate overlap carries low idf weight, so a pair passing raw
    // Jaccard on shared boilerplate alone is demoted
    val gated =
      if (cfg.tfWeighting)
        withExact.join(
          tfWeightedScores(cand.select("id_l", "id_r"), docs, cfg),
          Seq("id_l", "id_r"), "left")
      else withExact.withColumn("jaccard_tf", lit(null).cast("double"))
    val gate = if (cfg.tfWeighting) col("jaccard_tf") else col("jaccard_exact")
    val demoted = col("level") === 2 && gate < cfg.jaccardThreshold
    gated
      // reason must follow the level on demotion — a stale
      // "minhash-band=N" on a SimHash-level (or dropped) edge
      // misattributes provenance in lineage and debugging output
      .withColumn("reason",
        when(demoted,
          when(col("hamming") <= cfg.hammingThreshold, lit("simhash-hamming"))
            .otherwise(lit("below-threshold")))
          .otherwise(col("reason")))
      .withColumn("level",
        when(demoted,
          when(col("hamming") <= cfg.hammingThreshold, 1).otherwise(0))
          .otherwise(col("level")))
  }

  /** df-weighted Jaccard per candidate pair (A1 full analog, ≙
    * `term_frequency_adjustments=True` modifying the match weight,
    * `person_1/link_model_per.py:614-651`): each shingle weighs
    * idf = ln((nDocs+1)/df), so shared boilerplate (df ≈ nDocs, idf ≈ 0)
    * contributes almost nothing while rare content dominates.
    * weighted J = Σ idf(intersection) / Σ idf(union).
    *
    * Plan shape: the df table is a full-corpus groupBy (map-side
    * combinable — the TF-table aggregate A1); per-pair sums touch only
    * candidate docs (semi-join restriction, same staging as exactVerify). */
  def tfWeightedScores(pairs: DataFrame, docs: DataFrame, cfg: EngineConfig): DataFrame = {
    // nDocs rides the plan as a one-row aggregate broadcast into the idf
    // table: an eager docs.count() here launched a full-corpus serial job
    // at PLAN-CONSTRUCTION time on every exactVerify call with tfWeighting
    // on — a size-independent Amdahl term the lazy form avoids
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n"))
    // shingleHashes emits distinct hashes per doc, so (doc, sh) is distinct
    val sh = docs.select(col("id").as("__id"),
      explode(GraftFunctions.shingleHashes(col("text"), cfg.shingleK)).as("sh"))
    val idf = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", log((col("__n") + 1.0) / col("df")))
      .drop("__n")
    val ids = pairs.select(explode(array(col("id_l"), col("id_r"))).as("__id")).distinct()
    val touched = sh.join(ids, Seq("__id"), "left_semi")
      .join(idf.select("sh", "idf"), "sh")
    val docSum = touched.groupBy("__id").agg(sum("idf").as("w_total"))
    val interW = pairs.select("id_l", "id_r")
      .join(touched.select(col("__id").as("id_l"), col("sh"), col("idf")), Seq("id_l"))
      .join(touched.select(col("__id").as("id_r"), col("sh")), Seq("id_r", "sh"), "left_semi")
      .groupBy("id_l", "id_r").agg(sum("idf").as("w_inter"))
    pairs.select("id_l", "id_r")
      .join(interW, Seq("id_l", "id_r"), "left")
      .join(docSum.select(col("__id").as("id_l"), col("w_total").as("w_l")), Seq("id_l"), "left")
      .join(docSum.select(col("__id").as("id_r"), col("w_total").as("w_r")), Seq("id_r"), "left")
      .select(col("id_l"), col("id_r"), {
        val inter = coalesce(col("w_inter"), lit(0.0))
        val union = coalesce(col("w_l"), lit(0.0)) + coalesce(col("w_r"), lit(0.0)) - inter
        when(union > 0, inter / union).otherwise(lit(0.0)).as("jaccard_tf")
      })
  }
}

/** Substring-duplicate pass (SURVEY §7.2 module 8): winnowing fingerprints
  * (Schleimer et al., SIGMOD'03) instead of a literal global suffix array —
  * robust and distributed. Documents sharing ≥ substringMinFps selected
  * fingerprints are containment candidates; emitted as extra edges with
  * reason "substring". */
object Substring {

  def edges(docs: DataFrame, cfg: EngineConfig): DataFrame = {
    // winnowing is the most expensive narrow kernel in the pipeline
    // (char-gram FNV over the full text + sliding-window min) and BOTH
    // consumers below need it — compute it once per doc, cache the compact
    // array form (~100 longs/doc, far smaller than the text), and derive
    // the exploded bucket table and the per-doc counts from the cache
    val withFps = IntermediateCaches.persistTracked(docs.select(
        col("id"),
        GraftFunctions.winnowFps(col("text"), cfg.winnowK, cfg.winnowWindow).as("__fps")))
    // NOTE: no "low-fp docs can't form edges" pre-filter here — removing a
    // doc from the bucket table changes bucket cardinalities (df-cap
    // pruning decisions) and chain adjacency for the REMAINING docs, so
    // the filter is not output-neutral at boundary corpora.
    val fps = withFps.select(col("id"), explode(col("__fps")).as("key"))
      // (id, key) is distinct by construction: winnow de-dups per doc
      .withColumn("sort", col("id"))
    // per-doc fingerprint counts for the containment-ratio test — computed
    // narrowly from the array length (winnow emits distinct fps), not via a
    // groupBy over the exploded table
    val nFps = withFps.select(col("id"), size(col("__fps")).as("n_fps"))
    val shared = PairGen.pairs(fps, cfg.allPairsCap, dropHotAbove = Some(cfg.substringDfCap))
      .groupBy("id_l", "id_r").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= cfg.substringMinFps)
    shared
      .join(nFps.select(col("id").as("id_l"), col("n_fps").as("n_l")), "id_l")
      .join(nFps.select(col("id").as("id_r"), col("n_fps").as("n_r")), "id_r")
      .filter(col("shared_fps") >= lit(cfg.substringMinRatio) * least(col("n_l"), col("n_r")))
      .select(col("id_l").as("src"), col("id_r").as("dst"), col("shared_fps"))
  }
}
