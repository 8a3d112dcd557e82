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
  def split(docs: DataFrame, idCol: String = "id", textCol: String = "text",
            persistRanked: Boolean = false): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
    val ranked0 = docs
      .withColumn("__rn", row_number().over(w.orderBy(col(idCol))))
      .withColumn("__master", min(col(idCol)).over(w))
    val ranked = if (persistRanked)
      IntermediateCaches.persistTracked(ranked0)
    else ranked0
    val survivors = ranked.filter(col("__rn") === 1).drop("__rn", "__master")
    val holdouts = ranked.filter(col("__rn") > 1)
      .select(col(idCol), col("__master").as("master_id"))
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
  def splitByHash(docs: DataFrame, idCol: String = "id", textCol: String = "text",
                  persistHoldouts: Boolean = false): (DataFrame, DataFrame) = {
    // Two independent 64-bit hashes: the salt literal goes FIRST, so the
    // second hash runs over the text with a genuinely different seed
    // (xxhash64 folds columns left-to-right with the running hash as seed
    // — text-then-salt would make __h2 a pure function of __h1, collapsing
    // the pair to 64 bits). NULL text hashes over '' with an explicit
    // __hn marker column, so null-text duplicates group together, join
    // with plain equality (no null-rejecting key), and stay distinct from
    // empty-string text — exactly the window plan's partition semantics.
    // cached (engine-tracked, 25 B/row): keyed feeds BOTH the group
    // aggregate and the holdout join below — uncached, each reference
    // re-ran the two full-text xxhash64 passes over the corpus (the
    // dominant narrow cost of this stage). At 10^12 docs the cache is
    // narrow-row MEMORY_AND_DISK spill; the alternative is re-hashing the
    // full corpus text per reference (guide §2.4: share one computation).
    val keyed = IntermediateCaches.persistTracked(docs.select(
      col(idCol),
      xxhash64(coalesce(col(textCol), lit(""))).as("__h1"),
      xxhash64(lit(0x9e3779b9L), coalesce(col(textCol), lit(""))).as("__h2"),
      isnull(col(textCol)).as("__hn")))
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

/** Signature stage (SURVEY §7.2 module 5): Dataset[doc] → doc + minhash +
  * simhash + nShingles. Narrow — no shuffle; signatures computed in one
  * pass per document via the custom Catalyst expressions. */
object Signatures {
  def withSignatures(docs: DataFrame, cfg: EngineConfig, textCol: String = "text"): DataFrame =
    docs
      // fused kernel: ONE tokenization yields both signatures (the split
      // minhash_sig + simhash64 expressions each re-scanned and re-hashed
      // the full text — measured as the pipeline's most expensive narrow
      // stage). The struct is aliased in its own projection and the fields
      // extracted in a SECOND projection: CollapseProject declines to merge
      // a multi-referenced non-cheap alias, so doc_sigs evaluates once per
      // row (PlanQualitySpec pins one doc_sigs call in the optimized plan).
      .withColumn("__sig", GraftFunctions.docSigs(col(textCol), cfg))
      .withColumn("minhash", col("__sig").getField("minhash"))
      .withColumn("simhash", col("__sig").getField("simhash"))
      // real shingle count (Model.DocSig contract), not a constant: the
      // extra shingle pass is column-pruned away in the pipeline hot path
      // (which selects only id/minhash/simhash) and only paid by consumers
      // that actually read the count
      .withColumn("n_shingles",
        when(col("minhash").isNull, lit(0))
          .otherwise(size(GraftFunctions.shingleHashes(col(textCol), cfg.shingleK))))
      .drop("__sig")
}

/** Skew-aware candidate-pair generation from (key, id) bucket rows.
  *
  * Shared by LSH blocking and the winnowing substring pass. This is the
  * engine's answer to the reference's skew problem ("michael b" block =
  * 793,881 comparisons, `person_1/link_model_per.py:526-529`) — required
  * explicitly by the north_rule ("hot LSH buckets").
  *
  * - buckets with ≤ allPairsCap members → all pairs (exactly Splink's
  *   blocking self-join J3 semantics);
  * - hot buckets → O(n) chain pairing: members sorted by (sortKey, id) and
  *   linked consecutively, via RANGE partitioning so a mega-bucket spreads
  *   over many tasks ([[PairGen.chainPairsRanged]]). Connectivity within
  *   the bucket is preserved (clustering is over the transitive closure),
  *   nothing is silently dropped; near-identical docs sort adjacently when
  *   sortKey = simhash.
  */
object PairGen {
  val AllPairsCap = 64

  /** @param buckets columns: key:long, id:long, sort:long
    * @param dropHotAbove if set, buckets larger than this are excluded
    *        entirely (document-frequency pruning — used by the substring
    *        pass where a high-df fingerprint is boilerplate, not evidence;
    *        the LSH path never drops)
    * @return pairs (id_l, id_r, key) with id_l < id_r, deduplicated.
    *
    * Plan shape (scale-reasoned): the vast majority of bucket keys are
    * unique or tiny, so the main path is ONE raw-row shuffle on the key
    * plus a partition sort, streamed into pairs ([[streamedTagged]]) — no
    * global sort. Hot keys are rare by construction (each holds > cap
    * members), so their key set is collected-small and broadcast; only hot
    * rows pay the per-key sort for O(n) chain pairing. At 10^12 docs the
    * hot-key set is the boilerplate band/fingerprint population — bounded
    * by rows/cap; if it ever exceeded broadcast size the fallback is the
    * window form ([[pairsWindowed]]). */
  /** Hot-key sets beyond this row count don't broadcast — fall back to the
    * window-per-key plan (sorts everything, but never OOMs the driver). */
  val BroadcastKeyLimit = 2000000L

  def pairs(buckets0: DataFrame, allPairsCap: Int = AllPairsCap,
            dropHotAbove: Option[Int] = None): DataFrame = {
    val spark = buckets0.sparkSession
    import spark.implicits._
    // Any key NOT taking the all-pairs path: cnt > allPairsCap (chain or
    // dropped) OR cnt > dropHotAbove (dropped). Using the MIN of the two
    // caps keeps this plan's key partition identical to pairsWindowed's
    // (kept = cnt <= dropHotAbove; small = cnt <= allPairsCap) — the two
    // plans must produce the same edge set for the same input (determinism
    // guarantee), including when dropHotAbove < allPairsCap.
    val bigThreshold = math.min(allPairsCap, dropHotAbove.getOrElse(Int.MaxValue - 1))
    // dropHotAbove ≤ allPairsCap (the substring pass's default shape:
    // substringDfCap 50 < allPairsCap 64): every key above bigThreshold is
    // DROPPED and the chain band is empty by construction — so the big-key
    // collect exists only to feed an empty chain branch and a fallback
    // decision that cannot matter (nothing is collected to the driver at
    // all on this path). Short-circuit to the pure small-pairs plan:
    // no driver action at plan-construction time, no cache of the grouped
    // table (it has exactly one consumer now), and no second full scan of
    // the bucket table through the empty chain's semi-join — measured as a
    // large slice of the substring stage, the pipeline's dominant cost.
    // Output is identical (StagesSpec pins main-vs-windowed parity for
    // dropHotAbove < allPairsCap).
    if (dropHotAbove.exists(_ <= allPairsCap)) {
      // STREAMED small-pairs plan: hash repartition by key, sort within
      // partitions, one pass emitting all i<j pairs per contiguous group of
      // 2..bigThreshold members (groups above the threshold are
      // df-cap-dropped). Bounded memory: at most bigThreshold+1 buffered
      // ids per group.
      return streamedTagged(buckets0, bigThreshold, emitMarkers = false)
        .select(col("a").as("id_l"), col("b").as("id_r"), col("key"))
        .filter(col("id_l") =!= col("id_r"))
    }
    // ONE raw-row shuffle over the bucket table (the widest intermediate in
    // the pipeline), then a streamed per-partition pass ([[streamedTagged]])
    // emitting every small bucket's i<j pairs PLUS one exact-count marker
    // per big bucket. Memory stays bounded: at most bigThreshold+1
    // buffered longs per group. The exact counts on markers
    // also make the chain band (allPairsCap, dropHotAbove] decidable with
    // NO separate semi-joined count job. Cached: materialized once by the
    // big-key collect below; the small-pairs branch then reads blocks
    // (pair rows + markers).
    val tagged = IntermediateCaches.persistTracked(
      streamedTagged(buckets0, bigThreshold, emitMarkers = true))
    // Bounded collect: big keys each hold > bigThreshold members, so there
    // are at most rows/bigThreshold of them; if even that exceeds the
    // broadcast limit, fall back to the window plan. Single job wave
    // (ExecHints): the limit is an overflow guard sized to not be hit.
    val bigRows = ExecHints.singleWaveTake(spark) {
      tagged.filter(col("kind") === 1)
        .select(col("key"), col("a"))
        .limit(BroadcastKeyLimit.toInt + 1)
        .as[(Long, Long)].collect()
    }
    ScaleStats.recordMax(ScaleStats.maxBigKeysCollected, bigRows.length.toLong)
    if (bigRows.length > BroadcastKeyLimit) {
      ScaleStats.windowedFallbacks.incrementAndGet()
      tagged.unpersist()
      return pairsWindowed(buckets0, allPairsCap, dropHotAbove)
    }
    // Chain band = keys with allPairsCap < cnt <= dropHotAbove (empty by
    // construction unless dropHotAbove > allPairsCap — that shape returned
    // early above). Marker counts are exact, so the band is a driver-side
    // filter — the old plan ran a semi-joined count job over the bucket
    // table for it.
    val hotArr: Array[Long] = dropHotAbove match {
      case Some(cap) => bigRows.filter(_._2 <= cap).map(_._1)
      case None => bigRows.map(_._1)
    }
    val hotKeys = spark.createDataset(hotArr.toSeq).toDF("key")

    val smallPairs = tagged.filter(col("kind") === 0)
      .select(col("a").as("id_l"), col("b").as("id_r"), col("key"))

    // hot rows re-derive from the (narrow, upstream-cached) bucket source —
    // a broadcast semi-join sliver, not a second full-table shuffle
    val chainPairs = chainPairsRanged(
      buckets0.join(broadcast(hotKeys), Seq("key"), "left_semi"))

    smallPairs.unionByName(chainPairs).filter(col("id_l") =!= col("id_r"))
  }

  /** Streamed bucket-pairing pass: hash-repartition the (key, id) bucket
    * rows, sort within partitions, and in ONE forward pass emit
    *
    *  - kind 0 rows — all i<j pairs (a = id_l, b = id_r) of every
    *    contiguous group with 2..cap members (ids ascending from the
    *    partition sort), and
    *  - kind 1 rows (when `emitMarkers`) — one marker per group whose size
    *    exceeds `cap`, carrying the group's EXACT member count in `a`.
    *
    * Bounded memory: at most cap+1 ids buffered per group (members beyond
    * that are counted, not stored), with no per-key array serialization
    * through the shuffle. */
  private def streamedTagged(buckets0: DataFrame, cap: Int,
                             emitMarkers: Boolean): DataFrame = {
    val spark = buckets0.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    buckets0
      .select(col("key").cast("long"), col("id").cast("long"))
      .repartition(parts, col("key"))
      .sortWithinPartitions("key", "id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Int, Long, Long, Long)] {
          // current group being read: up to cap+1 ids stored, full size in m
          private val cur = new Array[Long](cap + 1)
          private var n = 0
          private var m = 0L
          private var curKey = 0L
          private var haveGroup = false
          // pending emission: a STABLE copy of the closed group's ids
          // (advance() may begin filling `cur` with the next group while
          // this group's pairs are still being emitted); pending marker
          // uses emitIds = null
          private var emitIds: Array[Long] = null
          private var emitKey = 0L
          private var emitCount = 0L
          private var marker = false
          private var ei = 0
          private var ej = 1
          private def emitting: Boolean =
            marker || (emitIds != null && ei < emitIds.length - 1)
          private def closeGroup(): Unit = {
            if (m >= 2 && m <= cap) {
              emitIds = java.util.Arrays.copyOf(cur, n)
              emitKey = curKey
              ei = 0; ej = 1
            } else if (m > cap && emitMarkers) {
              marker = true; emitKey = curKey; emitCount = m
            }
            n = 0; m = 0L
          }
          private def advance(): Unit = {
            while (!emitting && (it.hasNext || haveGroup)) {
              if (!it.hasNext) { closeGroup(); haveGroup = false }
              else {
                val (k, id) = it.next()
                if (haveGroup && k != curKey) closeGroup()
                curKey = k; haveGroup = true
                if (n <= cap) { cur(n) = id; n += 1 }
                m += 1
              }
            }
          }
          override def hasNext: Boolean = { if (!emitting) advance(); emitting }
          override def next(): (Int, Long, Long, Long) = {
            if (!emitting) advance()
            if (marker) { marker = false; (1, emitCount, 0L, emitKey) }
            else {
              val out = (0, emitIds(ei), emitIds(ej), emitKey)
              ej += 1
              if (ej >= emitIds.length) { ei += 1; ej = ei + 1 }
              out
            }
          }
        }
      }
      .toDF("kind", "a", "b", "key")
  }

  /** O(n) chain pairing of hot-bucket members WITHOUT a per-key window.
    *
    * `Window.partitionBy(key)` puts every row of a key into ONE task — for
    * a boilerplate band bucket at 10^12-doc scale (10^7-10^8 members) that
    * single task is the job. This is the north_rule's "explicit
    * repartitioning for hot LSH buckets": `repartitionByRange(key, sort,
    * id)` splits a mega-bucket across many partitions while preserving the
    * GLOBAL sort order, consecutive members pair within each partition
    * (mapPartitions — the one place imperative per-partition logic is the
    * right tool), and the per-key last/first rows at partition boundaries
    * are stitched by a lead() window over a tiny (≤ 2 rows × keys ×
    * partitions) boundary table — linear in the key's partition span. The emitted edge set is exactly the window plan's:
    * all consecutive (sort, id)-ordered pairs per key. Range boundaries
    * come from sampling and are not themselves deterministic, but the
    * output depends only on the total order, so it is. */
  private[stages] def chainPairsRanged(hotRows: DataFrame): DataFrame = {
    val spark = hotRows.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = hotRows
      .select(col("key").cast("long"), col("sort").cast("long"), col("id").cast("long"))
      .as[(Long, Long, Long)]
      .repartitionByRange(parts, col("key"), col("sort"), col("id"))
      .sortWithinPartitions("key", "sort", "id")
    // rows: kind 0 = chain edge (key, a, b); kind 1 = first row of a key in
    // this partition; kind 2 = last row of a key in this partition
    val tagged = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      new Iterator[(Int, Long, Int, Long, Long)] {
        private var pending: List[(Int, Long, Int, Long, Long)] = Nil
        private var prevKey = 0L
        private var prevId = 0L
        private var havePrev = false
        private def refill(): Unit = {
          while (pending.isEmpty && it.hasNext) {
            val (k, _, id) = it.next()
            if (!havePrev || k != prevKey) {
              if (havePrev) pending ::= ((2, prevKey, pid, prevId, 0L))
              pending ::= ((1, k, pid, id, 0L))
            } else {
              pending ::= ((0, k, pid, prevId, id))
            }
            prevKey = k; prevId = id; havePrev = true
          }
          if (pending.isEmpty && !it.hasNext && havePrev) {
            pending ::= ((2, prevKey, pid, prevId, 0L))
            havePrev = false
          }
        }
        override def hasNext: Boolean = { refill(); pending.nonEmpty }
        override def next(): (Int, Long, Int, Long, Long) = {
          refill(); val h = pending.head; pending = pending.tail; h
        }
      }
    }.toDF("kind", "key", "pid", "a", "b")
    IntermediateCaches.persistTracked(tagged) // persist returns `this`
    val within = tagged.filter(col("kind") === 0)
      .select(least(col("a"), col("b")).as("id_l"),
        greatest(col("a"), col("b")).as("id_r"), col("key"))
    // stitch: last row of a key in partition p pairs with the key's first
    // row in the NEXT partition that holds it (range partitioning keeps a
    // key's span contiguous). Every (key, partition) holding the key emits
    // exactly one first and one last, so ordered by (pid, kind) the
    // boundary rows interleave f,l,f,l,… and lead(1) from each last IS the
    // next partition's first. This is O(m) per key spanning m partitions;
    // the previous lasts.join(firsts, "key") put all m² (last × first)
    // combinations in the key's single reducer before pruning — at
    // production widths (m ≈ 10^4-10^5 for a 10^7-member bucket) that is
    // the single-task hotspot this function exists to avoid.
    val bw = Window.partitionBy("key").orderBy(col("pid"), col("kind"))
    val stitch = tagged.filter(col("kind") > 0)
      .select(col("key"), col("pid"), col("kind"), col("a"))
      .withColumn("__nxt", lead(col("a"), 1).over(bw))
      .filter(col("kind") === 2 && col("__nxt").isNotNull)
      .select(least(col("a"), col("__nxt")).as("id_l"),
        greatest(col("a"), col("__nxt")).as("id_r"), col("key"))
    within.unionByName(stitch)
  }

  /** Fallback plan when the hot-key set itself is too large to broadcast:
    * per-key window count + lead (one sort of the full bucket table).
    * Slower, but partition-parallel and driver-safe at any skew profile. */
  private[stages] def pairsWindowed(buckets: DataFrame, allPairsCap: Int,
                                    dropHotAbove: Option[Int]): DataFrame = {
    val w = Window.partitionBy("key")
    val counted = buckets.withColumn("__cnt", count(lit(1)).over(w))
    val kept = dropHotAbove match {
      case Some(cap) => counted.filter(col("__cnt") <= cap)
      case None => counted
    }
    val smallPairs = kept.filter(col("__cnt") <= allPairsCap)
      .groupBy("key").agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("key"), explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x as l, y as r))))"""
          .stripMargin)).as("p"))
      .select(col("p.l").as("id_l"), col("p.r").as("id_r"), col("key"))
    val chainW = Window.partitionBy("key").orderBy(col("sort"), col("id"))
    val chainPairs = kept.filter(col("__cnt") > allPairsCap)
      .withColumn("__nxt", lead(col("id"), 1).over(chainW))
      .filter(col("__nxt").isNotNull)
      .select(least(col("id"), col("__nxt")).as("id_l"),
        greatest(col("id"), col("__nxt")).as("id_r"), col("key"))
    smallPairs.unionByName(chainPairs).filter(col("id_l") =!= col("id_r"))
  }

  /** Width-k generalisation of [[chainPairsRanged]] for ANN hot buckets:
    * every member pairs with the next `width` members in global (key,
    * sort, id) order, with NO per-key window task. Global ranks are
    * computed deterministically (range partition → per-partition local
    * index + two-phase offsets, the same technique as Golden.denseIds —
    * boundary placement cancels out of offset+localIdx), then pairs are a
    * hash-partitioned equi-join on (key, rank ± δ), δ = 1..width — fully
    * parallel on the high-cardinality (key, rank) composite. Exactly the
    * window plan's pair set, deterministic, scale-safe. */
  private[graft] def rankedWidthPairs(rows: DataFrame, width: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = rows
      .select(col("key").cast("long"), col("sort").cast("long"), col("id").cast("long"))
      .as[(Long, Long, Long)]
      .repartitionByRange(parts, col("key"), col("sort"), col("id"))
      .sortWithinPartitions("key", "sort", "id")
    val indexed = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var prevKey = 0L
      var idx = -1L
      var have = false
      it.map { case (k, _, id) =>
        if (!have || k != prevKey) { idx = 0L; prevKey = k; have = true } else idx += 1
        (k, id, pid, idx)
      }
    }.toDF("key", "id", "pid", "local_idx")
    IntermediateCaches.persistTracked(indexed) // persist returns `this`
    // per-(pid, key) counts are tiny (≤ keys × partitions rows): cumulative
    // offsets per key in pid order via a window over the aggregate only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("pid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = indexed.groupBy("key", "pid").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum("n").over(w), lit(0L)))
      .select("key", "pid", "offset")
    val rankedIds = indexed.join(broadcast(offsets), Seq("key", "pid"))
      .select(col("key"), col("id"), (col("offset") + col("local_idx")).as("rank"))
    val r = rankedIds.select(col("key"), col("id").as("id_b"), col("rank").as("rank_b"))
    rankedIds
      .withColumn("rank_b", explode(expr(s"sequence(rank + 1, rank + $width)")))
      .join(r, Seq("key", "rank_b"))
      .select(least(col("id"), col("id_b")).as("id_l"),
        greatest(col("id"), col("id_b")).as("id_r"), col("key"))
  }

  /** Bucket-size skew report (≙ Splink n_largest_blocks,
    * `person_1/link_model_per.py:531-538`). */
  def largestBuckets(buckets: DataFrame, n: Int): DataFrame =
    buckets.groupBy("key").count().orderBy(desc("count"), col("key")).limit(n)
}

/** LSH blocking (SURVEY §7.2 module 6) — replaces Splink's blocking rules
  * (J3, `person_1/link_model_per.py:501-507`): explode band hashes, pair
  * within buckets, dedup pairs across bands keeping the lowest band index
  * as provenance (≙ Splink match_key, `person_1/link_model_per.py:489`).
  *
  * The bucket key packs the band index into the top 8 bits of the 64-bit
  * band hash — provenance is recovered with a shift, no extra join, and
  * the key stays a primitive long through PairGen's whole skew machinery
  * (hash-agg buffers, range partitioning, the typed chain kernel).
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

  /** @param sigs columns: id, minhash, simhash (from [[Signatures]])
    * @return candidate pairs (id_l, id_r, match_key). */
  def candidatePairs(sigs: DataFrame, cfg: EngineConfig): DataFrame = {
    val buckets = sigs
      .filter(col("minhash").isNotNull)
      .select(
        col("id"),
        col("simhash").as("sort"),
        posexplode(GraftFunctions.bandHashes(col("minhash"), cfg)).as(Seq("band_idx", "band_hash")))
      .select(
        (shiftleft(col("band_idx").cast("long"), 56)
          .bitwiseOR(shiftrightunsigned(col("band_hash"), 8))).as("key"),
        col("id"), col("sort"))

    PairGen.pairs(buckets, cfg.allPairsCap)
      .groupBy("id_l", "id_r")
      .agg(min(shiftrightunsigned(col("key"), 56)).cast("int").as("match_key"))
  }
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
    * agree exactly with the all-pairs oracle definition. */
  def exactVerify(scored0: DataFrame, docs: DataFrame, cfg: EngineConfig,
                  idCol: String = "id", textCol: String = "text"): DataFrame = {
    // cached (engine-tracked, narrow ~60 B/row): the scored input is
    // referenced THREE times below (cand → ids, cand → the exact join,
    // and the below-threshold union) — uncached, the two-sided signature
    // join behind it re-executed per reference (exchange reuse does not
    // collapse the composed copies; same rationale as runLite's candidate
    // persist). The cache is bounded by candidate-pair volume.
    val scored = IntermediateCaches.persistTracked(scored0)
    val cand = scored.filter(col("level") >= 1)
    // no explicit broadcast hints: the candidate id set is usually tiny
    // (AQE will broadcast it), but at high duplicate rates it can approach
    // corpus size — the plan must stay valid either way
    val ids = cand.select(explode(array(col("id_l"), col("id_r"))).as(idCol)).distinct()
    // cached (engine-tracked): touched feeds BOTH sides of the exact join —
    // uncached, every candidate doc was re-shingled twice (shingleHashes is
    // the expensive narrow kernel here). Bounded by candidate-doc volume ×
    // shingle arrays — the same data the join shuffles anyway.
    val touched = IntermediateCaches.persistTracked(docs.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol),
        GraftFunctions.shingleHashes(col(textCol), cfg.shingleK).as("__sh")))
    val withExact = cand
      .join(touched.select(col(idCol).as("id_l"), col("__sh").as("__sh_l")), "id_l")
      .join(touched.select(col(idCol).as("id_r"), col("__sh").as("__sh_r")), "id_r")
      .withColumn("jaccard_exact", GraftFunctions.jaccardArrays(col("__sh_l"), col("__sh_r")))
      .drop("__sh_l", "__sh_r")
    // optional df-weighted gate (A1 full analog of the reference's
    // term_frequency_adjustments, person_1/link_model_per.py:614-651):
    // boilerplate overlap carries low idf weight, so a pair passing raw
    // Jaccard on shared boilerplate alone is demoted
    val gated =
      if (cfg.tfWeighting)
        withExact.join(
          tfWeightedScores(cand.select("id_l", "id_r"), docs, cfg, idCol, textCol),
          Seq("id_l", "id_r"), "left")
      else withExact.withColumn("jaccard_tf", lit(null).cast("double"))
    val gate = if (cfg.tfWeighting) col("jaccard_tf") else col("jaccard_exact")
    val demoted = col("level") === 2 && gate < cfg.jaccardThreshold
    val verified = gated
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
    verified.unionByName(
      scored.filter(col("level") < 1)
        .withColumn("jaccard_exact", lit(null).cast("double"))
        .withColumn("jaccard_tf", lit(null).cast("double")))
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
  def tfWeightedScores(pairs: DataFrame, docs: DataFrame, cfg: EngineConfig,
                       idCol: String = "id", textCol: String = "text"): DataFrame = {
    // nDocs rides the plan as a one-row aggregate broadcast into the idf
    // table: an eager docs.count() here launched a full-corpus serial job
    // at PLAN-CONSTRUCTION time on every exactVerify call with tfWeighting
    // on — a size-independent Amdahl term the lazy form avoids
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n"))
    // shingleHashes emits distinct hashes per doc, so (doc, sh) is distinct
    val sh = docs.select(col(idCol).as("__id"),
      explode(GraftFunctions.shingleHashes(col(textCol), cfg.shingleK)).as("sh"))
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

  def edges(docs: DataFrame, cfg: EngineConfig,
            idCol: String = "id", textCol: String = "text"): DataFrame = {
    // winnowing is the most expensive narrow kernel in the pipeline
    // (char-gram FNV over the full text + sliding-window min) and BOTH
    // consumers below need it — compute it once per doc, cache the compact
    // array form (~100 longs/doc, far smaller than the text), and derive
    // the exploded bucket table and the per-doc counts from the cache
    val withFps = IntermediateCaches.persistTracked(docs.select(
        col(idCol).as("id"),
        GraftFunctions.winnowFps(col(textCol), cfg.winnowK, cfg.winnowWindow).as("__fps")))
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
