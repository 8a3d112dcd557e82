package graft.stages

import graft.SparkSpec
import graft.model.EngineConfig
import org.apache.spark.sql.functions._

class StagesSpec extends SparkSpec {
  import spark.implicits._

  test("ExactDedup: survivors keep rn=1, holdouts carry master = min id") {
    val docs = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "other"), (5L, "third")).toDF("id", "text")
    val (surv, hold) = ExactDedup.split(docs)
    assert(surv.select("id").as[Long].collect().sorted.sameElements(Array(1L, 4L, 5L)))
    val h = hold.as[(Long, Long)].collect().sortBy(_._1)
    assert(h.sameElements(Array((2L, 1L), (3L, 1L))))
  }

  test("ExactDedup.reattach: holdouts inherit the master's cluster; orphans root at master") {
    // masters 1 and 4 clustered together (cluster 1); holdout 2 -> master 1
    // inherits cluster 1 TRANSITIVELY; holdout 9 -> master 8 which never
    // reached assignment (defensive path): roots at its master id, and two
    // orphans of one absent master land in the SAME cluster
    val assign = Seq((1L, 1L), (4L, 1L), (5L, 5L)).toDF("id", "cluster_id")
    val hold = Seq((2L, 1L), (9L, 8L), (10L, 8L)).toDF("id", "master_id")
    val out = ExactDedup.reattach(assign, hold)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(out.sameElements(Array(
      (1L, 1L), (2L, 1L), (4L, 1L), (5L, 5L), (9L, 8L), (10L, 8L))), out.mkString(","))
  }

  test("ExactDedup: splitByHash (24 B/row scale plan) matches the window plan exactly") {
    // includes the null/empty corner: null-text docs must dedup together
    // (window semantics) yet stay distinct from empty-string text
    val docs = ((1L to 400L).map(i => (i, s"text ${i % 37}")) ++
      Seq((1001L, "unique a"), (1002L, "unique b"),
        (1003L, null.asInstanceOf[String]), (1004L, null.asInstanceOf[String]),
        (1005L, ""), (1006L, ""))).toDF("id", "text")
    val (sw, hw) = ExactDedup.split(docs)
    val (sh, hh) = ExactDedup.splitByHash(docs)
    assert(sh.select("id").as[Long].collect().sorted
      .sameElements(sw.select("id").as[Long].collect().sorted))
    assert(hh.as[(Long, Long)].collect().sortBy(_._1)
      .sameElements(hw.as[(Long, Long)].collect().sortBy(_._1)))
    // the scale plan must not move text through an exchange: no window, and
    // text appears in no shuffle key (only the narrow hash projection)
    val plan = ExactDedup.splitByHash(docs)._2.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"hash plan must not window:\n$plan")
  }

  test("persistTracked never adopts a caller's cache: engine clear leaves it live") {
    import org.apache.spark.storage.StorageLevel
    val df = Seq(1, 2, 3).toDF("x").persist()
    try {
      df.count()
      IntermediateCaches.persistTracked(df) // no-op: plan already cached
      graft.Pipeline.clearIntermediateCaches(spark)
      assert(df.storageLevel != StorageLevel.NONE,
        "engine clear evicted the CALLER's cache")
    } finally df.unpersist()
  }

  test("PairGen: chain band when dropHotAbove > allPairsCap (exact counts via sliver job)") {
    // key A: 10 members (all-pairs), key B: 30 (chain band: > cap 16,
    // <= dropHot 50), key C: 60 (dropped: > 50)
    val rows = (1L to 10L).map(i => (1L, i, i)) ++
      (1L to 30L).map(i => (2L, 100L + i, i)) ++
      (1L to 60L).map(i => (3L, 1000L + i, i))
    val pairs = PairGen.pairs(rows.toDF("key", "id", "sort"), allPairsCap = 16,
      dropHotAbove = Some(50)).as[(Long, Long, Long)].collect()
    assert(pairs.count(_._3 == 1L) == 45) // C(10,2)
    assert(pairs.count(_._3 == 2L) == 29) // chain n-1
    assert(!pairs.exists(_._3 == 3L))     // df-pruned
    assert(pairs.toSeq.sorted == PairGenOracle.pairs(rows, 16, Some(50)))
  }

  test("PairGen: all pairs for small buckets, chain for hot, none for singles") {
    val small = (1L to 5L).map(i => (100L, i, i)) // one bucket of 5
    val single = Seq((200L, 9L, 9L))
    val hot = (1L to 80L).map(i => (300L, 1000L + i, i)) // > cap(64)
    val buckets = (small ++ single ++ hot).toDF("key", "id", "sort")
    val pairs = PairGen.pairs(buckets).as[(Long, Long, Long)].collect()
    val smallPairs = pairs.filter(_._3 == 100L)
    assert(smallPairs.length == 10) // C(5,2)
    assert(smallPairs.forall(p => p._1 < p._2))
    val hotPairs = pairs.filter(_._3 == 300L)
    assert(hotPairs.length == 79) // chain n-1
    assert(!pairs.exists(_._3 == 200L))
  }

  test("PairGen: mega-bucket emits exactly its (sort, id) chain, streamed past the cap") {
    // one hot key with 5,000 members spread over 8 input partitions,
    // scrambled sort order — the pass streams it after 65 buffered ids
    // and must still emit EXACTLY the consecutive chain
    val rows = (1L to 5000L).map(i => (42L, i, graft.expr.Hashing.mix64(i)))
    val buckets = rows.toDF("key", "id", "sort").repartition(8)
    val got = PairGen.pairs(buckets).as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2)).toSet
    val ordered = rows.sortBy(r => (r._3, r._2)).map(_._2)
    val want = ordered.zip(ordered.tail)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(got == want, s"chain mismatch: missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
  }

  test("PairGen: chainWidth k pairs each member with its next k in (sort, id) order") {
    val width = 3
    val rows = ((1L to 500L).map(i => (5L, i, graft.expr.Hashing.mix64(i * 13))) ++
      (1L to 40L).map(i => (9L, 1000L + i, graft.expr.Hashing.mix64(i))))
    val got = PairGen.pairs(rows.toDF("key", "id", "sort").repartition(8),
        allPairsCap = 0, chainWidth = width)
      .as[(Long, Long, Long)].collect().toSet
    val want = rows.groupBy(_._1).flatMap { case (k, members) =>
      val ordered = members.sortBy(r => (r._3, r._2)).map(_._2)
      ordered.indices.flatMap { i =>
        ((i + 1) to math.min(i + width, ordered.length - 1)).map { j =>
          (math.min(ordered(i), ordered(j)), math.max(ordered(i), ordered(j)), k)
        }
      }
    }.toSet
    assert(got == want,
      s"missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
  }

  test("PairGen streamed pass: many adjacent groups per partition, mixed sizes") {
    // exercises the emit-while-buffering-next-group path of the pass:
    // hundreds of groups land in each shuffle partition, sizes 1..6 plus a
    // dropped big group, so group closes interleave densely with emission
    val rnd = new java.util.SplittableRandom(5)
    val rows = (1L to 400L).flatMap { k =>
      val m = 1 + rnd.nextInt(6)
      (1 to m).map(i => (k, k * 1000 + i, 0L))
    } ++ (1L to 80L).map(i => (9999L, 100000L + i, 0L)) // big → dropped
    val got = PairGen.pairs(rows.toDF("key", "id", "sort"), allPairsCap = 64,
        dropHotAbove = Some(50))
      .as[(Long, Long, Long)].collect().toSet
    val want = rows.groupBy(_._1).filter { case (_, ms) => ms.size >= 2 && ms.size <= 50 }
      .flatMap { case (k, ms) =>
        val ids = ms.map(_._2).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j), k)
      }.toSet
    assert(got == want,
      s"missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)} (|got|=${got.size}, |want|=${want.size})")
  }

  test("PairGen: small, hot and single buckets equal the oracle pair set") {
    val rows = (1L to 5L).map(i => (100L, i, i)) ++
      (1L to 80L).map(i => (300L, 1000L + i, i)) ++ Seq((200L, 9L, 9L))
    val got = PairGen.pairs(rows.toDF("key", "id", "sort"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == PairGenOracle.pairs(rows))
  }

  test("PairGen: dropHotAbove excludes boilerplate buckets entirely") {
    val buckets = ((1L to 80L).map(i => (1L, i, i)) ++ Seq((2L, 1L, 1L), (2L, 2L, 2L)))
      .toDF("key", "id", "sort")
    val pairs = PairGen.pairs(buckets, 64, dropHotAbove = Some(50))
      .as[(Long, Long, Long)].collect()
    assert(pairs.forall(_._3 == 2L))
    assert(pairs.length == 1)
  }

  test("PairGen: pass and oracle agree when dropHotAbove < allPairsCap") {
    // the df band (dropHotAbove, allPairsCap] must be DROPPED: a
    // fingerprint with df 51-64 is boilerplate under the df cap even
    // though it would fit the all-pairs cap
    val rows = (1L to 55L).map(i => (10L, i, i)) ++   // in the band → drop
      (1L to 80L).map(i => (20L, 100L + i, i)) ++      // above both → drop
      (1L to 5L).map(i => (30L, 200L + i, i))          // small → all-pairs
    val got = PairGen.pairs(rows.toDF("key", "id", "sort"), 64, dropHotAbove = Some(50))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == PairGenOracle.pairs(rows, 64, Some(50)))
    assert(got.forall(_._3 == 30L) && got.size == 10)

    // and with dropHotAbove > allPairsCap: (allPairsCap, cap] chains, > cap drops
    val rows2 = (1L to 70L).map(i => (40L, i, i)) ++   // chain (64 < 70 ≤ 100)
      (1L to 120L).map(i => (50L, 300L + i, i))        // drop (> 100)
    val got2 = PairGen.pairs(rows2.toDF("key", "id", "sort"), 64, dropHotAbove = Some(100))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got2 == PairGenOracle.pairs(rows2, 64, Some(100)))
    assert(got2.forall(_._3 == 40L) && got2.size == 69)
  }

  test("Blocking: identical docs collide in all bands, candidates dedup across bands") {
    val cfg = EngineConfig.default
    val text = (1 to 200).map(i => s"tok$i").mkString(" ")
    // docs 4 and 5 hold one token each: fewer than shingleK, so unlinkable
    val docs = Seq((1L, text), (2L, text), (3L, (1 to 200).map(i => s"zz$i").mkString(" ")),
      (4L, "tiny"), (5L, "tiny")).toDF("id", "text")
    val sigs = Signatures.withSignatures(docs, cfg).select("id", "minhash", "simhash")
    assert(sigs.filter(col("minhash").isNull).select("id").as[Long].collect().sorted
      .sameElements(Array(4L, 5L)))
    val cand = Blocking.candidatePairs(sigs, cfg).as[(Long, Long, Int)].collect()
    assert(cand.count(c => c._1 == 1L && c._2 == 2L) == 1) // deduped across 16 bands
    // an unsigned doc has no band rows, so it is in no candidate pair
    assert(cand.forall(c => Seq(c._1, c._2).forall(id => id == 1L || id == 2L)))
    assert(cand.head._3 == 0) // lowest band index kept as match_key
  }

  test("Scoring: ordered levels, threshold semantics") {
    val cfg = EngineConfig.default
    val t1 = (1 to 100).map(i => s"tok$i").mkString(" ")
    val t2 = (1 to 100).map(i => if (i % 50 == 0) "edited" else s"tok$i").mkString(" ")
    val docs = Seq((1L, t1), (2L, t2)).toDF("id", "text")
    val sigs = Signatures.withSignatures(docs, cfg).select("id", "minhash", "simhash")
    val pairs = Seq((1L, 2L, 0)).toDF("id_l", "id_r", "match_key")
    val scored = Scoring.score(pairs, sigs, cfg).collect().head
    assert(scored.getAs[Int]("level") >= 1)
    val edges = Scoring.edges(Scoring.score(pairs, sigs, cfg)).count()
    assert(edges == 1)
  }

  test("exactVerify demotes level-2 pairs whose exact Jaccard misses the threshold") {
    val cfg = EngineConfig.default
    // two docs sharing exactly half their shingles: exact jaccard ≈ 0.33
    // (< 0.7), but feed a fake level-2 row as if the estimate had passed
    val t1 = (1 to 60).map(i => s"a$i").mkString(" ")
    val t2 = ((1 to 30).map(i => s"a$i") ++ (1 to 30).map(i => s"z$i")).mkString(" ")
    val docs = Seq((1L, t1), (2L, t2)).toDF("id", "text")
    val scored = Seq((1L, 2L, 0, 0.75, 30, 2, "minhash-band=0"))
      .toDF("id_l", "id_r", "match_key", "jaccard_est", "hamming", "level", "reason")
    val v = Scoring.exactVerify(scored, docs, cfg).collect().head
    assert(v.getAs[Int]("level") == 0, s"expected demotion, got $v")
    assert(v.getAs[Double]("jaccard_exact") < cfg.jaccardThreshold)
    // provenance follows the demotion: the stale band reason must not
    // survive on a level-0 row
    assert(v.getAs[String]("reason") == "below-threshold", s"stale reason on $v")
    // and a genuinely identical pair stays level 2 with its band reason
    val docs2 = Seq((1L, t1), (2L, t1)).toDF("id", "text")
    val v2 = Scoring.exactVerify(scored, docs2, cfg).collect().head
    assert(v2.getAs[Int]("level") == 2 && v2.getAs[Double]("jaccard_exact") == 1.0)
    assert(v2.getAs[String]("reason") == "minhash-band=0")
  }

  test("Substring: slice+boilerplate detected; boilerplate-only pair rejected") {
    val cfg = EngineConfig.default.copy(substringDfCap = 3)
    val rnd = new java.util.SplittableRandom(13)
    def words(n: Int, p: String) = (1 to n).map(i => p + rnd.nextInt(100000)).mkString(" ")
    val boiler = words(30, "b")
    val base = words(300, "w")
    val slice = boiler + " " + base.split(" ").slice(50, 250).mkString(" ")
    // 5 docs sharing only boilerplate (df-pruned), plus a true containment
    val docs = (Seq((1L, base), (2L, slice)) ++
      (3L to 7L).map(i => (i, boiler + " " + words(100, s"u$i")))).toDF("id", "text")
    val edges = Substring.edges(docs, cfg).as[(Long, Long, Long)].collect()
    assert(edges.exists(e => e._1 == 1L && e._2 == 2L), s"missing containment edge: ${edges.mkString(",")}")
    assert(edges.forall(e => e._1 == 1L && e._2 == 2L), s"boilerplate false edge: ${edges.mkString(",")}")
  }

  test("clearIntermediateCaches releases engine-tracked blocks, never the caller's") {
    val sc = spark.sparkContext
    def cached = sc.getPersistentRDDs.keySet
    val words = (1 to 200).map(i => s"w$i")
    val callerCache = Seq((1L, words.mkString(" ")), (2L, words.slice(40, 160).mkString(" ")))
      .toDF("id", "text").persist()
    val beforeCaller = cached
    callerCache.count()
    val callerRdds = cached -- beforeCaller
    // the caller's cache feeds an operator that tracks its own: the
    // substring pass caches the winnow fingerprints
    assert(Substring.edges(callerCache, EngineConfig.default).count() == 1)
    val engineRdds = cached -- beforeCaller -- callerRdds
    assert(callerRdds.size == 1 && engineRdds.nonEmpty, s"caller $callerRdds, engine $engineRdds")
    graft.Pipeline.clearIntermediateCaches(spark)
    assert((cached & engineRdds).isEmpty, s"engine caches ${cached & engineRdds} survived the clear")
    assert(callerRdds.subsetOf(cached) && callerCache.storageLevel.useMemory,
      "caller cache must survive the engine clear")
    // idempotent: a second clear with nothing tracked is a no-op
    graft.Pipeline.clearIntermediateCaches(spark)
    callerCache.unpersist()
  }

  test("forThreshold(0.8) banding captures high-Jaccard pairs end-to-end (q38 contract)") {
    // the tuned config (8 bands x 16 rows, S-curve midpoint 0.878): a pair
    // at J ~ 0.94 has per-band collision p = 0.94^16 ~ 0.37, miss
    // (1-p)^8 ~ 2.5% — so >= 28/30 planted twins must surface as
    // candidates, and every candidate at exact J >= 0.8 must score level 2
    // under the retuned jaccardThreshold. Deterministic (seeded kernels).
    val tuned = EngineConfig.forThreshold(0.8)
    assert(tuned.bands == 8 && tuned.rowsPerBand == 16 && tuned.jaccardThreshold == 0.8)
    val docs = (0 until 30).flatMap { p =>
      val toks = (0 until 100).map(i => s"w${p}_$i")
      val twin = toks.updated(50, "CHANGED")
      Seq((p * 2L, toks.mkString(" ")), (p * 2L + 1, twin.mkString(" ")))
    }.toDF("id", "text")
    val sigs = Signatures.withSignatures(docs, tuned).select("id", "minhash", "simhash")
    val cand = Blocking.candidatePairs(sigs, tuned)
    val scored = Scoring.exactVerify(Scoring.score(cand, sigs, tuned), docs, tuned)
    val twinHits = scored.filter(col("id_r") === col("id_l") + 1 && col("id_l") % 2 === 0)
    assert(twinHits.count() >= 28, s"tuned banding captured only ${twinHits.count()}/30 twins")
    // every captured twin verifies at level 2 (exact J ~ 0.94 >= 0.8)
    assert(twinHits.filter(col("level") === 2).count() == twinHits.count())
    // no cross-family false candidates survive exact verify at level 2
    val cross = scored.filter(col("level") >= 1 && !(col("id_r") === col("id_l") + 1))
    assert(cross.count() == 0, s"false positives: ${cross.count()}")
  }
}
