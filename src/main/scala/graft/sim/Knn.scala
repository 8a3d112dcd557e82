package graft.sim

import graft.expr.{CosineSimExpr, GraftFunctions, Hashing}
import graft.model.EngineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbour search over an embedding column
  * (`array<float>`): hyperplane-LSH and IVF top-1 and LSH-routed embedding
  * dedup, the scale paths — at 10^12 vectors the cross join is impossible;
  * bucketing bounds each comparison set. Their correctness baseline is
  * brute-force cosine: Queries q25 (oracle-checked) and KnnSpec's top-k.
  * One hyperplane kernel ([[signBits]], [[projection]]) keys every LSH
  * path; both top-1 paths share the `cosine_sim` kernel and [[top1]].
  */
object Knn {

  /** Sanitation boundary for dirty web-scale embedding tables: keep only
    * rows whose vector has exactly `dim` components, all finite. Every ANN
    * entry point already DEGRADES on corrupt rows individually (NaN →
    * cosine 0.0 / -1 answer, wrong dim → skipped cells) so nothing
    * crashes, but a pipeline ingesting from an unvetted extractor should
    * filter once up front instead of paying the degradation per operator —
    * and keep the rejects for a quarantine table.
    *
    * Pure built-in expressions (size + exists + isnan), codegen-friendly,
    * no UDF; `dim` is explicit because inferring it would cost a driver
    * action (the same Amdahl tax [[lshTop1]]'s lazy planes removed).
    *
    * @return (valid, rejected) — partitions of the input by the predicate */
  def filterValidEmbeddings(embeddings: DataFrame, dim: Int,
                            col: String = "embedding"): (DataFrame, DataFrame) = {
    val c = org.apache.spark.sql.functions.col(col)
    val bad = c.isNull || size(c) =!= dim ||
      exists(c, x => isnan(x) || x === Float.PositiveInfinity || x === Float.NegativeInfinity)
    (embeddings.filter(!bad), embeddings.filter(bad))
  }

  /** Signed random hyperplanes → bucket id. Deterministic from cfg.seed. */
  private def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    Array.tabulate(bits) { b =>
      Array.tabulate(dim) { i =>
        // deterministic pseudo-gaussian via sum of 4 uniforms
        val u = (0 until 4).map(j =>
          (Hashing.mix64(seed ^ (b * 1309L + i * 7919L + j * 104729L)) >>> 11).toDouble / (1L << 53).toDouble)
        u.sum - 2.0
      }
    }
  }

  /** Per-JVM lazy plane cache: plane (b, i) is a pure function of
    * (b, i, seed) — independent of dim — so generating planes ON the
    * executor at first use (keyed by the incoming vector's length) yields
    * bit-identical values to the old driver-side generate-and-broadcast,
    * WITHOUT the `select(size(embedding)).head()` driver action the old
    * probe cost every lshTop1/embedDedup call (serial job latency — the
    * Amdahl term). The probe also threw NoSuchElementException on an empty
    * embeddings table; with no probe, empty in → empty out naturally. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()
  // bound for long-lived executors serving many (dim, bits, seed) configs
  // (per-tenant seeds): each entry is dim×bits×8 B and would otherwise
  // accumulate for the JVM lifetime. planesFor runs PER ROW in the bucket
  // UDF, so the hit path must stay lock-free (plain CHM get); at the bound
  // we evict ONE arbitrary entry — a wholesale clear() would thrash every
  // hot config the moment a 65th appears, recomputing planes per row batch
  // (planes are pure, so correctness is unaffected either way).
  private val PlaneCacheMaxEntries = 64
  private def planesFor(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val k = (dim, bits, seed)
    val hit = planeCache.get(k)
    if (hit != null) return hit
    if (planeCache.size >= PlaneCacheMaxEntries) {
      val it = planeCache.keySet.iterator
      if (it.hasNext) planeCache.remove(it.next())
    }
    planeCache.computeIfAbsent(k, _ => hyperplanes(dim, bits, seed))
  }

  /** The hyperplane kernel: `v`'s sign bits over planes [from, from + n)
    * (bit i set when its dot with plane from + i is ≥ 0), and the bit whose
    * dot has the smallest |magnitude| (the first on ties). */
  private def signBits(ps: Array[Array[Double]], v: Seq[Float], from: Int, n: Int): (Long, Int) = {
    var b = 0L
    var minAbs = Double.MaxValue
    var minBit = 0
    var i = 0
    while (i < n) {
      val d = dot(ps(from + i), v)
      if (d >= 0) b |= (1L << i)
      val a = math.abs(d)
      if (a < minAbs) { minAbs = a; minBit = i }
      i += 1
    }
    (b, minBit)
  }

  /** `v`'s projection on plane `p` as a monotone long (PairGen's sort).
    * Converted INSIDE the udf: Scala .toLong saturates NaN→0, where a
    * DataFrame-level .cast("long") on a NaN projection throws
    * CAST_OVERFLOW under Spark 4's default ANSI mode — one corrupt row
    * must not kill the job. */
  private def projection(p: Array[Double], v: Seq[Float]): Long =
    (dot(p, v) * (1L << 32).toDouble).toLong

  private def dot(p: Array[Double], v: Seq[Float]): Double = {
    var d = 0.0; var j = 0
    while (j < v.length) { d += p(j) * v(j); j += 1 }
    d
  }

  /** LSH-bucketed top-1 neighbour: bucket by hyperplane sign bits, compare
    * only within buckets. Vectors whose bucket is a singleton multi-probe
    * the nearest neighbouring bucket (lowest-|dot| sign bit flipped); only
    * if that bucket is hot or empty too does the answer stay nn_id -1
    * (honest "not found").
    *
    * Skew control (same problem PairGen solves for text): an uncapped
    * within-bucket self-join is quadratic in bucket size, so one hot bucket
    * (near-identical boilerplate embeddings) dominates the job at scale.
    * Buckets ≤ bucketCap keep the exact all-pairs compare; hot buckets are
    * ordered by a secondary hyperplane projection (a continuous LSH value —
    * near vectors get near projections, so true neighbours sort adjacently)
    * and each member compares only with the next chainWidth members:
    * O(n·chainWidth) pairs per hot bucket, nothing dropped from coverage.
    * Both are one [[graft.stages.PairGen.pairs]] pass with allPairsCap =
    * bucketCap: one key-partitioned sorted pass, streaming each hot
    * bucket's chain with `chainWidth` ids held, no per-bucket window. */
  def lshTop1(spark: SparkSession, embeddings: DataFrame, cfg: EngineConfig,
              bits: Int = 8, bucketCap: Int = 256, chainWidth: Int = 4): DataFrame = {
    val bucketed = bucketRows(embeddings, cfg, bits)
    // hot-bucket key set is tiny by construction (each holds > bucketCap
    // members ⇒ ≤ n/bucketCap keys) — broadcast-safe
    val counts = bucketed.groupBy("bucket").agg(count(lit(1)).as("__cnt"))
    val hotBuckets = counts.filter(col("__cnt") > bucketCap).select("bucket")
    val cold = bucketed.join(broadcast(hotBuckets), Seq("bucket"), "left_anti")

    // singleton multi-probe: a vector alone in its bucket has NO in-bucket
    // candidate and previously answered nn_id = -1. It probes the flipped
    // bucket as a QUERY only (it stays data in its own bucket, so nobody
    // else's result changes). Data side restricted to cold buckets: each
    // probe contributes ≤ bucketCap pairs — bounded; a hot probe target is
    // skipped (rare: a singleton adjacent to a mega-bucket).
    val singles = bucketed
      .join(broadcast(counts.filter(col("__cnt") === 1).select("bucket")),
        Seq("bucket"), "left_semi")
      .select(col("vec_id"), col("embedding"), col("probe").as("bucket"))
    val probePairs = singles
      .join(cold.select(col("bucket"), col("vec_id").as("nid"), col("embedding").as("emb_b")),
        Seq("bucket"))
      .select("vec_id", "embedding", "nid", "emb_b")

    // all pairs of each cold bucket, the width-k chain over each hot
    // bucket's (projection, id) order
    val idPairs = graft.stages.PairGen.pairs(
      bucketed.select(col("bucket").as("key"), col("vec_id").as("id"), col("sort")),
      allPairsCap = bucketCap, chainWidth = chainWidth)
    val inBucket = withVectors(idPairs, embeddings)
      .select(col("id_l").as("vec_id"), col("__el").as("embedding"),
        col("id_r").as("nid"), col("__er").as("emb_b"))
    // each pair is candidate evidence for BOTH endpoints
    val bothWays = inBucket.unionByName(inBucket.select(
      col("nid").as("vec_id"), col("emb_b").as("embedding"),
      col("vec_id").as("nid"), col("embedding").as("emb_b")))

    top1(bucketed, bothWays.unionByName(probePairs))
  }

  /** (vec_id, embedding, bucket, probe, sort) from one kernel pass over
    * `bits` sign planes + 1 sort plane (lazy per executor, [[planesFor]]):
    * probe flips the sign bit of the smallest |dot| (the vector sits
    * closest to that boundary: its likeliest second home). Cached
    * (engine-tracked): [[lshTop1]] reads it from counts, the cold/singles
    * splits, the PairGen rows and the final join — uncached, each copy
    * re-runs the (bits+1)×dim dot products, the path's dearest narrow op. */
  private[sim] def bucketRows(embeddings: DataFrame, cfg: EngineConfig, bits: Int): DataFrame = {
    val seed = cfg.seed
    val keysUdf = udf((v: Seq[Float]) => {
      val ps = planesFor(v.length, bits + 1, seed)
      val (b, nearest) = signBits(ps, v, 0, bits)
      (b.toInt, (b ^ (1L << nearest)).toInt, projection(ps(bits), v))
    })
    graft.stages.IntermediateCaches.persistTracked(embeddings
      .select(col("vec_id"), col("embedding"), keysUdf(col("embedding")).as("__k"))
      .select(col("vec_id"), col("embedding"), col("__k._1").as("bucket"),
        col("__k._2").as("probe"), col("__k._3").as("sort")))
  }

  /** (id_l, id_r) pairs with both ends' vectors, as `__el` and `__er`. */
  private[sim] def withVectors(pairs: DataFrame, embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    pairs.join(e.select(col("vec_id").as("id_l"), col("embedding").as("__el")), "id_l")
      .join(e.select(col("vec_id").as("id_r"), col("embedding").as("__er")), "id_r")
  }

  /** The answer of both top-1 paths: for every `vec_id` of `ids`, the
    * candidate `nid` of highest cosine over (vec_id, embedding, nid, emb_b)
    * rows, or -1 when it has no candidate. (-cos, nid) min: max cosine,
    * ties to the SMALLEST nid — cosine ties are routine in a dedup corpus
    * (exact-duplicate embeddings) and bare max_by(nid, cos) keeps whichever
    * row the merge visits first, flipping nn_id across partitionings/reruns. */
  private[sim] def top1(ids: DataFrame, candidates: DataFrame): DataFrame = {
    val best = candidates
      .withColumn("cos", GraftFunctions.cosineSim(col("embedding"), col("emb_b")))
      .groupBy("vec_id").agg(min_by(col("nid"), struct(negate(col("cos")), col("nid"))).as("nn_id"))
    ids.select("vec_id")
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("nn_id"), lit(-1L)).as("nn_id"))
  }

  /** IVF (inverted-file) top-1: coarse-quantize vectors to K deterministic
    * centroids, probe the nProbe nearest cells per query. The second ANN
    * scale path besides hyperplane LSH: at 10^12 vectors the centroid set
    * stays driver-small (trained offline in production; here seeded by
    * hash order for determinism), assignment is a narrow map, and search
    * touches only nProbe cells instead of the full table.
    *
    * Centroid selection is distributed and ids-first: a takeOrdered over
    * (mix64 hash, id) pairs — 16 bytes/row, so the driver-side partial
    * merge stays megabytes at any partition count — then a broadcast-join
    * fetch of exactly the k chosen vectors (NOT a full-table collect; the
    * vectors never ride through the top-k partials). k scales ~sqrt(n) so
    * cells stay ~sqrt(n)-sized and the within-cell compare is
    * O(n^1.5 / nProbe) total, not n^2/k for a fixed k. */
  /** Defaulted-k centroid picks fetch this many hash-smallest ids in the
    * combined count+top-k job; k = sqrt(n) exceeds it only past n ≈ 4e9
    * vectors — far beyond the driver-broadcast IVF regime (production
    * trains centroids offline at that scale) — where a second exact
    * top-k job covers the gap. */
  private val CentroidPoolMax = 65536

  def ivfTop1(spark: SparkSession, embeddings: DataFrame, k: Int = 0,
              nProbe: Int = 2, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    // Centroid pick = distributed top-k by a bijective id hash (mix64 has
    // no collisions on Long, so the hash alone is a deterministic total
    // order — a seeded permutation of the ids). takeOrdered visits every
    // row exactly once, so the defaulted-k path counts n with an
    // accumulator in the SAME job instead of a separate count() action
    // (a per-call serial job the bench showed as pure Amdahl tax). The
    // accumulator can over-count only on task retry; n feeds the k ~
    // sqrt(n) heuristic, not correctness, and the pool cut below stays
    // exact regardless.
    val acc = spark.sparkContext.longAccumulator("graft.ivf.n")
    // Ship ONLY (hash, id) through the top-k job — 16 bytes/row. With the
    // embedding attached, takeOrdered's driver merge receives up to
    // poolSize rows PER PARTITION (each partition's bounded queue), i.e.
    // potentially gigabytes of vectors at production dims/partition counts
    // (> spark.driver.maxResultSize); ids-only partials stay megabytes.
    val keyed = embeddings
      .select(col("vec_id")).as[Long]
      .rdd.map { id => acc.add(1L); (Hashing.mix64(id ^ seed), id) }
    val poolSize = if (k > 0) k else CentroidPoolMax
    val pool = keyed.takeOrdered(poolSize)(Ordering.by(_._1))
    val kEff =
      if (k > 0) k
      else math.max(16, math.sqrt(acc.value.toDouble).toInt)
    val picked =
      if (kEff <= pool.length || pool.length < poolSize) pool.take(kEff) // exact top-kEff
      else keyed.takeOrdered(kEff)(Ordering.by(_._1)) // n > pool² regime: one more exact job
    // Targeted fetch: the kEff-th smallest hash is now known, and mix64 is
    // bijective, so `hash <= threshold` selects EXACTLY the picked ids —
    // one short filter+collect job shipping only ~sqrt(n) vectors to the
    // driver (the set the IVF design broadcasts anyway). The filter reads
    // only vec_id; embeddings deserialize for surviving rows alone.
    val pickedIds = picked.map(_._2)
    val fetched =
      if (picked.isEmpty) Map.empty[Long, Array[Float]]
      else {
        val hashCeil = picked.last._1
        val inPick = udf((id: Long) => Hashing.mix64(id ^ seed) <= hashCeil)
        embeddings.select(col("vec_id"), col("embedding"))
          .filter(inPick(col("vec_id")))
          .as[(Long, Array[Float])].collect().toMap
      }
    // picked is already in mix64 order — the deterministic centroid indexing.
    // The fetch is a SECOND job over `embeddings`; a non-deterministic input
    // (unpersisted sample/limit, re-evaluated stream batch) can drop a
    // picked id between the jobs — fail with the cause, not a bare
    // NoSuchElementException (vectors silently mixed across snapshots would
    // be worse; determinism of the input is this API's contract).
    val cents = pickedIds.zipWithIndex.map { case (id, i) =>
      (i, fetched.getOrElse(id, throw new IllegalStateException(
        s"centroid id $id vanished between the top-k and fetch jobs — " +
          "embeddings must be deterministic across jobs (persist derived/" +
          "sampled inputs before calling ivfTop1)")))
    }
    val centsB = spark.sparkContext.broadcast(cents)

    val cellsUdf = udf((v: Seq[Float]) => {
      // both sides Array: a Seq here would implicitly COPY the query
      // vector once per centroid per row (k*dim floats of garbage per doc)
      val va = v.toArray
      // wrong-dimension corrupt vector vs centroid: NaN, which the
      // top-nProbe scan skips — the vector only probes matching-dim cells
      val scores = centsB.value.map { case (_, c) =>
        if (c.length != va.length) Double.NaN else CosineSimExpr.cosine(c, va)
      }
      // top-nProbe by repeated max scan — O(k·nProbe), not O(k log k):
      // with k ≈ √n centroids this udf is the dominant per-row cost and
      // a full sort pays log k for the ≤ 2 indices actually kept
      val out = new Array[Int](math.min(nProbe, scores.length))
      val taken = new Array[Boolean](scores.length)
      var o = 0
      var exhausted = false
      while (o < out.length && !exhausted) {
        var best = -1; var bs = Double.NegativeInfinity; var i = 0
        while (i < scores.length) {
          if (!taken(i) && scores(i) > bs) { bs = scores(i); best = i }
          i += 1 // strict > : ties resolve to the lowest index, a total order
        }
        // best = -1 when every untaken score is NaN (corrupt embedding →
        // NaN cosine everywhere): stop instead of indexing taken(-1);
        // fewer (possibly zero) cells degrade to the left-join -1 answer
        if (best < 0) exhausted = true
        else { taken(best) = true; out(o) = best; o += 1 }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    })
    // cells computed ONCE per vector (engine-tracked cache): `assigned`
    // and `probes` below would otherwise each run the k-cosine loop —
    // the dominant compute of the IVF path — over the full table
    val withCells = graft.stages.IntermediateCaches.persistTracked(
      embeddings.select(col("vec_id"), col("embedding"))
        .withColumn("cells", cellsUdf(col("embedding"))))
    // data side: each vector lives in its single nearest cell. get() not
    // getItem(): cells is EMPTY for an all-NaN corrupt vector and ANSI
    // mode makes getItem(0) throw on it — get() yields the null that the
    // join then drops
    val assigned = withCells.withColumn("cell", get(col("cells"), lit(0))).drop("cells")
    // query side: probe the nProbe nearest cells
    val probes = withCells.withColumn("cell", explode(col("cells"))).drop("cells")
    val cand = probes.join(
        assigned.select(col("cell"), col("vec_id").as("nid"), col("embedding").as("emb_b")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("nid"))
    top1(embeddings, cand)
  }

  /** Embedding-cosine near-duplicate clustering — the vector analog of the
    * MinHash text pipeline (dedup family: exact / MinHash / SimHash /
    * n-gram / embedding-cosine): multi-table hyperplane-LSH candidate
    * generation, exact-cosine verification at `threshold`, connected
    * components → (vec_id, cluster_id = min member id).
    *
    * Recall: P(same bucket in one table) = (1 - θ/π)^bits; miss prob over
    * L independent tables = (1 - p)^L. At cos ≥ 0.95 (θ ≤ 18.2°) with
    * bits=8, tables=8: p ≈ 0.43, miss ≈ 0.011 per pair before CC bridging
    * (a missed pair still clusters together via any shared neighbour). At
    * cos ≥ 0.99: miss ≈ 8e-5. Spec-pinned recall 1.0 on planted dups.
    *
    * Scale: bucket rows (table‖bucket key) route through [[graft.stages.PairGen]] —
    * small buckets exact all-pairs, hot buckets chained by a secondary
    * continuous projection (near vectors sort adjacently), bounded pair
    * count — the same skew discipline as the text path; exact cosine runs
    * only on candidates, and CC picks its plan by edge count. */
  def embedDedup(spark: SparkSession, embeddings: DataFrame,
                 threshold: Double = 0.9, bits: Int = 8, tables: Int = 8,
                 seed: Long = 42L, allPairsCap: Int = 64): DataFrame = {
    require(bits <= 24, "bucket bits must leave room for the table index")
    // tables*bits sign planes + 1 shared plane for hot-bucket ordering;
    // generated lazily per executor (no driver dim-probe action, and an
    // empty embeddings table now yields an empty result instead of a
    // NoSuchElementException from .head())
    val keysUdf = udf((v: Seq[Float]) => {
      val ps = planesFor(v.length, tables * bits + 1, seed)
      Array.tabulate(tables)(t => (t.toLong << 32) | signBits(ps, v, t * bits, bits)._1)
    })
    val projUdf = udf((v: Seq[Float]) =>
      projection(planesFor(v.length, tables * bits + 1, seed)(tables * bits), v))
    // one consumer (PairGen's single pass), so no cache
    val buckets = embeddings.select(
      explode(keysUdf(col("embedding"))).as("key"),
      col("vec_id").as("id"),
      projUdf(col("embedding")).as("sort"))
    val cand = graft.stages.PairGen.pairs(buckets, allPairsCap)
      .select("id_l", "id_r").distinct() // same pair found by several tables
    val edges = withVectors(cand, embeddings)
      .filter(GraftFunctions.cosineSim(col("__el"), col("__er")) >= threshold)
      .select(col("id_l").as("src"), col("id_r").as("dst"))
    graft.stages.ConnectedComponents.assign(
        spark, embeddings.select(col("vec_id").as("id")), edges)
      .select(col("id").as("vec_id"), col("cluster_id"))
  }
}
