package graft.sim

import graft.SparkSpec
import graft.expr.{GraftFunctions, Hashing}
import graft.model.EngineConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class KnnSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic clustered embeddings: 10 well-separated centers, 40 points
    * each with small deterministic jitter — ANN must find same-center
    * neighbours. */
  private lazy val clustered = {
    val rnd = new java.util.SplittableRandom(23)
    val centers = Array.fill(10, 16)(rnd.nextDouble() * 2 - 1)
    (0L until 400L).map { i =>
      val c = (i % 10).toInt
      val v = centers(c).map(x => (x + (Hashing.mix64(i * 31 + x.hashCode) % 1000) / 50000.0).toFloat)
      (i, v, c)
    }.toDF("vec_id", "embedding", "label").persist()
  }

  /** Brute-force cosine top-k, the specs' oracle (O(n^2)): per vec_id the
    * k candidates of highest cosine, ties to the smallest nid, ranked
    * 1..k. */
  private def bruteTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val a = embeddings.select(col("vec_id"), col("embedding"))
    val b = embeddings.select(col("vec_id").as("nid"), col("embedding").as("emb_b"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nid").asc)
    a.join(b, col("vec_id") =!= col("nid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("embedding"), col("emb_b")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("vec_id", "rank", "nid", "cos")
  }

  /** [[Knn.lshTop1]]'s former pairing, the parity reference: a self-join
    * on `bucket` over the cold buckets (≤ bucketCap members), PairGen's
    * chain with allPairsCap = 0 over the hot ones, then the same singleton
    * multi-probe and top-1 tail. */
  private def lshTop1Reference(embeddings: DataFrame, bucketCap: Int, chainWidth: Int = 4,
                               bits: Int = 8): DataFrame = {
    val bucketed = Knn.bucketRows(embeddings, EngineConfig.default, bits)
    val counts = bucketed.groupBy("bucket").agg(count(lit(1)).as("__cnt"))
    val hotBuckets = counts.filter(col("__cnt") > bucketCap).select("bucket")
    val cold = bucketed.join(broadcast(hotBuckets), Seq("bucket"), "left_anti")
    val coldPairs = cold
      .join(cold.select(col("bucket"), col("vec_id").as("nid"), col("embedding").as("emb_b")),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("nid"))
      .select("vec_id", "embedding", "nid", "emb_b")
    val singles = bucketed
      .join(broadcast(counts.filter(col("__cnt") === 1).select("bucket")),
        Seq("bucket"), "left_semi")
      .select(col("vec_id"), col("embedding"), col("probe").as("bucket"))
    val probePairs = singles
      .join(cold.select(col("bucket"), col("vec_id").as("nid"), col("embedding").as("emb_b")),
        Seq("bucket"))
      .select("vec_id", "embedding", "nid", "emb_b")
    val hotRows = bucketed.join(broadcast(hotBuckets), Seq("bucket"), "left_semi")
      .select(col("bucket").as("key"), col("vec_id").as("id"), col("sort"))
    val hotIdPairs = graft.stages.PairGen.pairs(hotRows, allPairsCap = 0, chainWidth = chainWidth)
    val hotChain = Knn.withVectors(hotIdPairs, embeddings)
      .select(col("id_l").as("vec_id"), col("__el").as("embedding"),
        col("id_r").as("nid"), col("__er").as("emb_b"))
    val hotPairs = hotChain.unionByName(hotChain.select(
      col("nid").as("vec_id"), col("emb_b").as("embedding"),
      col("vec_id").as("nid"), col("embedding").as("emb_b")))
    Knn.top1(bucketed, coldPairs.unionByName(hotPairs).unionByName(probePairs))
  }

  test("LSH top-1 equals the cold-join + hot-chain reference (all chained, default cap, planted)") {
    val emb = clustered.select("vec_id", "embedding")
    // cap 8 chains every 40-member center bucket; the default 256 chains none
    for ((name, e, cap) <- Seq(("clustered", emb, 8), ("clustered", emb, 256), ("planted", planted, 256))) {
      val got = Knn.lshTop1(spark, e, EngineConfig.default, bucketCap = cap)
        .orderBy("vec_id").as[(Long, Long)].collect().toSeq
      val want = lshTop1Reference(e, cap).orderBy("vec_id").as[(Long, Long)].collect().toSeq
      assert(got.size == e.count() && got == want,
        s"$name at bucketCap $cap: ${got.diff(want).take(5)} vs ${want.diff(got).take(5)}")
    }
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  test("brute-force topK: neighbours are same-cluster, ranks are dense") {
    val top3 = bruteTopK(clustered.select("vec_id", "embedding"), 3)
    val joined = top3
      .join(clustered.select(col("vec_id"), col("label").as("l_q")), "vec_id")
      .join(clustered.select(col("vec_id").as("nid"), col("label").as("l_n")), "nid")
    val (same, total) = joined
      .agg(sum((col("l_q") === col("l_n")).cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(total == 1200)
    assert(same == total, s"brute top-3 must stay within the tight clusters ($same/$total)")
  }

  test("cosine ties resolve to the smallest nid under any partitioning " +
      "(exact-duplicate embeddings are routine in a dedup corpus)") {
    // three IDENTICAL vectors: every query sees two candidates at cos 1.0;
    // bare max_by(nid, cos) kept whichever the merge visited first
    val v = Array.fill(16)(0.25f)
    val emb = Seq((1L, v), (2L, v), (3L, v)).toDF("vec_id", "embedding")
    val expect = Map(1L -> 2L, 2L -> 1L, 3L -> 1L)
    (1 to 6).foreach { p =>
      val lsh = Knn.lshTop1(spark, emb.repartition(p), EngineConfig.default)
        .as[(Long, Long)].collect().toMap
      assert(lsh == expect, s"lshTop1 tie winner changed at partitioning $p: $lsh")
      val ivf = Knn.ivfTop1(spark, emb.repartition(p), k = 2, nProbe = 2)
        .as[(Long, Long)].collect().toMap
      assert(ivf == expect, s"ivfTop1 tie winner changed at partitioning $p: $ivf")
    }
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  test("IVF top-1 recall vs brute-force >= 0.9 on clustered data") {
    val emb = clustered.select("vec_id", "embedding")
    val brute = bruteTopK(emb, 1)
      .select(col("vec_id"), col("nid").as("nn_brute"))
    val ivf = Knn.ivfTop1(spark, emb, k = 16, nProbe = 3)
    val joined = brute.join(ivf, "vec_id")
      .join(clustered.select(col("vec_id").as("nn_brute"), col("label").as("l_b")), "nn_brute")
      .join(clustered.select(col("vec_id").as("nn_id"), col("label").as("l_i")), "nn_id")
    // cluster-level recall: IVF neighbour lands in the same cluster as the
    // true nearest neighbour (exact-id can differ within a tight cluster)
    val (hit, total) = joined
      .agg(sum((col("l_b") === col("l_i")).cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(hit.toDouble / total >= 0.9, s"IVF cluster recall ${hit.toDouble / total}")
  }

  test("LSH top-1 hot-bucket chain path keeps cluster recall with bounded pairs") {
    val emb = clustered.select("vec_id", "embedding")
    // cap of 8 forces EVERY 40-member center bucket onto the chain path
    val capped = Knn.lshTop1(spark, emb, EngineConfig.default, bucketCap = 8, chainWidth = 4)
    assert(capped.count() == 400)
    val joined = capped.filter(col("nn_id") >= 0)
      .join(clustered.select(col("vec_id"), col("label").as("l_q")), "vec_id")
      .join(clustered.select(col("vec_id").as("nn_id"), col("label").as("l_n")), "nn_id")
    val (same, total) = joined
      .agg(sum((col("l_q") === col("l_n")).cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(total >= 390, s"capped path must still answer (answered $total)")
    assert(same.toDouble / total >= 0.95,
      s"chain ordering by secondary projection must keep cluster recall (${same.toDouble / total})")
  }

  /** Planted near-dup vectors: 30 base vectors; ids 100..129 are tiny
    * perturbations of base i (cos ≥ ~0.999), plus 60 unrelated randoms.
    * Truth clusters: {i, 100+i} pairs; everything else singleton. */
  private lazy val planted = {
    val rnd = new java.util.SplittableRandom(91)
    val base = Array.fill(30, 32)(rnd.nextDouble() * 2 - 1)
    val dups = (0 until 30).map { i =>
      (100L + i, base(i).map(x => (x + (Hashing.mix64(i * 7L) % 100) / 100000.0).toFloat))
    }
    val orig = (0 until 30).map(i => (i.toLong, base(i).map(_.toFloat)))
    val noise = (0 until 60).map(i => (200L + i, Array.fill(32)((rnd.nextDouble() * 2 - 1).toFloat)))
    (orig ++ dups ++ noise).toDF("vec_id", "embedding").persist()
  }

  test("embedDedup clusters planted near-dups exactly (recall 1.0, precision 1.0)") {
    val got = Knn.embedDedup(spark, planted, threshold = 0.95)
      .as[(Long, Long)].collect().toMap
    (0 until 30).foreach { i =>
      assert(got(i.toLong) == i.toLong && got(100L + i) == i.toLong,
        s"planted pair ($i, ${100 + i}) must share cluster min id $i (got ${got(i.toLong)}, ${got(100L + i)})")
    }
    (0 until 60).foreach { i =>
      assert(got(200L + i) == 200L + i, s"unrelated vector ${200 + i} must stay a singleton")
    }
    assert(got.size == 120)
  }

  test("embedDedup matches brute-force threshold clustering on clustered data") {
    val emb = clustered.select("vec_id", "embedding")
    // truth: brute-force pairs at the threshold + driver union-find closure
    val thr = 0.98
    val pairs = emb.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val edges = for {
      i <- pairs.indices; j <- (i + 1) until pairs.length
      if cos(pairs(i)._2, pairs(j)._2) >= thr
    } yield (pairs(i)._1, pairs(j)._1)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = pairs.map(_._1).map(id => id -> find(id)).toMap
    val got = Knn.embedDedup(spark, emb, threshold = thr).as[(Long, Long)].collect().toMap
    assert(got == truth, "LSH-routed embedDedup must equal brute-force closure at this scale")
  }

  test("LSH top-1 singleton multi-probe: fewer -1 answers, bounded extra pairs, recall kept") {
    // the planted table's 60 random noise vectors scatter over 256 buckets:
    // many land alone and would answer -1 without the probe. The probe may
    // only ADD answers for singleton-bucket vectors — everyone else's
    // result is untouched (probe rows join as queries only).
    val got = Knn.lshTop1(spark, planted, EngineConfig.default)
      .as[(Long, Long)].collect().toMap
    val unanswered = got.values.count(_ == -1L)
    // pre-probe baseline, reconstructed: vectors alone in their bucket.
    // With bits=8 over 120 vectors most noise vectors are singletons; the
    // probe must resolve a solid majority of them (deterministic: seeded).
    assert(unanswered < 30, s"$unanswered of 120 still unanswered after multi-probe")
    // planted near-dup pairs that share a bucket still resolve to each
    // other — the probe path must not displace in-bucket answers
    val inBucket = (0 until 30).count(i => got(i.toLong) == 100L + i || got(100L + i) == i.toLong)
    assert(inBucket >= 20, s"near-dup resolution degraded: $inBucket/30")
  }

  test("LSH top-1 is deterministic and covers every vector") {
    val emb = clustered.select("vec_id", "embedding")
    val a = Knn.lshTop1(spark, emb, EngineConfig.default).orderBy("vec_id")
      .as[(Long, Long)].collect()
    val b = Knn.lshTop1(spark, emb, EngineConfig.default).orderBy("vec_id")
      .as[(Long, Long)].collect()
    assert(a.sameElements(b))
    assert(a.length == 400)
  }

  test("ivfTop1 defaulted k: two eager jobs (ids top-k + vector fetch), explicit-k parity") {
    val emb = clustered.select("vec_id", "embedding")
    emb.count() // materialize the suite cache outside the measured window
    // the eager part of ivfTop1 is the centroid pick: job 1 = ids-only
    // takeOrdered (n counted by accumulator in the SAME job — no separate
    // count), job 2 = the targeted fetch of the kEff chosen vectors (the
    // scale-safety split: vectors must not ride the top-k partial merge).
    // A third job would mean the separate count() action crept back in.
    spark.sparkContext.setJobGroup("graft-ivf-pick", "centroid pick job audit")
    val lazyResult = Knn.ivfTop1(spark, emb) // no action on the result yet
    spark.sparkContext.clearJobGroup()
    // the status store is fed async from the listener bus — poll with a
    // deadline instead of a fixed sleep (flaky on loaded machines), then
    // require a stable read so a late third job can't slip past
    def groupJobs() = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-ivf-pick")
    val deadline = System.currentTimeMillis + 30000
    while (groupJobs().length < 2 && System.currentTimeMillis < deadline) Thread.sleep(50)
    Thread.sleep(500) // settle window: all jobs already SUBMITTED (ivfTop1
    // returned), this only lets the bus drain any trailing event
    val picked = groupJobs()
    assert(picked.length == 2,
      s"defaulted-k centroid pick ran ${picked.length} jobs (want 2 — no separate count)")
    // parity: the defaulted path must equal the explicit k = max(16, sqrt n)
    val kExp = math.max(16, math.sqrt(400.0).toInt)
    val explicit = Knn.ivfTop1(spark, emb, k = kExp).orderBy("vec_id").as[(Long, Long)].collect()
    assert(lazyResult.orderBy("vec_id").as[(Long, Long)].collect().sameElements(explicit))
  }

  test("empty embeddings table: every ANN entry point returns empty instead of throwing") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Knn.lshTop1(spark, empty, EngineConfig.default).count() == 0)
    assert(Knn.embedDedup(spark, empty).count() == 0)
    assert(Knn.ivfTop1(spark, empty).count() == 0)
  }

  test("ivfTop1 survives corrupt embeddings (NaN, wrong dim, empty); clean vectors keep answers") {
    // corrupt rows are routine at web scale: an all-NaN vector makes every
    // centroid cosine NaN, a wrong-dimension or empty vector used to throw
    // AIOOBE inside cos — all must degrade to the -1 answer, not crash
    val corrupt = clustered.select("vec_id", "embedding")
      .union(Seq(
        (999L, Array.fill(16)(Float.NaN)),
        (998L, Array(1f, 2f)),
        (997L, Array.empty[Float])).toDF("vec_id", "embedding"))
    val res = Knn.ivfTop1(spark, corrupt, k = 8, nProbe = 2)
      .as[(Long, Long)].collect().toMap
    assert(res.size == 403, s"every vector answered (got ${res.size})")
    Seq(999L, 998L, 997L).foreach { id =>
      assert(res(id) == -1L, s"corrupt vector $id answers -1 (got ${res(id)})") }
    val cleanAnswered = res.iterator.count { case (id, nn) => id < 400L && nn >= 0L }
    assert(cleanAnswered == 400, s"clean vectors still get neighbours ($cleanAnswered/400)")
  }

  test("filterValidEmbeddings partitions corrupt rows (NaN, Inf, wrong dim, null) exactly") {
    val rows = Seq(
      (1L, Array(1f, 2f)), // valid
      (2L, Array(1f, Float.NaN)), // NaN
      (3L, Array(1f, Float.PositiveInfinity)), // Inf
      (4L, Array(1f, 2f, 3f)), // wrong dim
      (5L, Array.empty[Float]), // empty
      (6L, null.asInstanceOf[Array[Float]]), // null
      (7L, Array(-0f, 3.5f))) // valid
      .toDF("vec_id", "embedding")
    val (ok, bad) = Knn.filterValidEmbeddings(rows, dim = 2)
    assert(ok.select("vec_id").as[Long].collect().sorted.sameElements(Array(1L, 7L)))
    assert(bad.select("vec_id").as[Long].collect().sorted.sameElements(Array(2L, 3L, 4L, 5L, 6L)))
  }

  test("cosine_sim degrades mismatched or zero-dim vectors to 0.0 instead of throwing") {
    val df = Seq(
      (1L, Array(1f, 0f), Array(1f, 0f, 0f)), // wrong dim
      (2L, Array(1f, 0f), Array.empty[Float]), // empty side
      (3L, Array(1f, 0f), Array(1f, 0f))) // clean control
      .toDF("id", "a", "b")
      .select(col("id"), graft.expr.GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(df(1L) == 0.0 && df(2L) == 0.0, s"degraded pairs score 0.0 ($df)")
    assert(math.abs(df(3L) - 1.0) < 1e-9, s"clean pair unaffected ($df)")
  }
}
