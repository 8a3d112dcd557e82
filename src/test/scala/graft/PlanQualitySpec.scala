package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Physical-plan gates (SURVEY §4): filters and projections must reach the
  * parquet scan; small dimension joins must broadcast; the signature stage
  * must be shuffle-free; co-partitioned aggregations must not re-shuffle.
  * Runs against the sf0.001 harness tables. */
class PlanQualitySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown + column pruning reach the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"missing pushed filter:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"missing pruned schema:\n$p")
  }

  test("dimension fan-in joins broadcast (q02)") {
    val p = plan(queries.Queries.queries("q02_join_dims")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join must not sort-merge:\n$p")
  }

  test("signature stage is narrow (no Exchange)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g")).toDF("id", "text")
    val p = plan(stages.Signatures.withSignatures(docs, model.EngineConfig.default))
    assert(!p.contains("Exchange"), s"signatures must not shuffle:\n$p")
  }

  test("fused doc_sigs evaluates ONCE in the signatures projection") {
    // the fused kernel is only a win if CollapseProject leaves the aliased
    // struct in its own projection — a merged plan would copy the
    // expression per extracted field and tokenize the text twice again.
    // (A LocalRelation input would be constant-folded away entirely, so
    // read from parquet like the real pipeline does.)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val df = stages.Signatures.withSignatures(docs, model.EngineConfig.default)
      .select("id", "minhash", "simhash")
    val o = df.queryExecution.optimizedPlan.toString
    val n = "doc_sigs".r.findAllIn(o).length
    assert(n == 1, s"expected exactly one doc_sigs call in the optimized plan, got $n:\n$o")
  }

  test("streaming near-dup detector: doc_sigs evaluated once, no null-filter copy") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = streaming.StreamingDedup
      .nearDupCandidates(input.toDF().toDF("id", "warc_ts", "text"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("neardup_plan").start()
    try {
      input.addData((1L, new java.sql.Timestamp(0L), "a b c d e f g h"))
      q.processAllAvailable()
      // the micro-batch's own optimized plan: the streaming source is not a
      // LocalRelation, so nothing is constant-folded away
      val o = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan.toString
      // one projected struct and no other copy (such as a pushed-down
      // minhash null filter)
      val projected = "doc_sigs\\([^)]*\\) AS __sig".r.findAllIn(o).length
      val n = "doc_sigs".r.findAllIn(o).length
      assert(projected == 1 && n == 1, s"expected one projected doc_sigs and no other, got $n:\n$o")
    } finally q.stop()
  }

  test("q22 and q38: each signatures reference evaluates doc_sigs once, no null-filter copy") {
    // the signatures feed blocking and both sides of the scoring join, so
    // the optimized plan holds one projected doc_sigs per reference (the
    // executed plan reuses one broadcast for both join sides). A minhash
    // null filter pushed below a projection would add a second doc_sigs
    // there and tokenize and hash every text of that branch twice.
    for (q <- Seq("q22_minhash_lsh", "q38_threshold_tuned")) {
      val o = queries.Queries.queries(q)(spark, dir).queryExecution.optimizedPlan.toString
      val projected = "doc_sigs\\([^)]*\\) AS __sig".r.findAllIn(o).length
      val n = "doc_sigs".r.findAllIn(o).length
      assert(projected >= 1 && n == projected,
        s"$q: expected only projected doc_sigs, got $n calls for $projected projections:\n$o")
    }
  }

  test("whole-stage codegen covers the scalar metric expressions") {
    // parquet-backed input so Catalyst cannot constant-fold the whole query
    val df = spark.read.parquet(s"$dir/customer.parquet")
      .select(graft.expr.GraftFunctions.jaroWinkler(col("c_name"), col("c_mktsegment")).as("jw"),
        graft.expr.GraftFunctions.damerauLevenshtein(col("c_name"), col("c_mktsegment")).as("dl"))
    val p = plan(df)
    // "*(1) Project [jaro_winkler(...)]" — the star marks whole-stage
    // codegen; the custom doGenCode static calls live inside that stage
    assert(p.contains("*(1) Project [jaro_winkler"), s"jw/dl must stay inside codegen:\n$p")
    df.collect() // force execution: the generated static calls must compile
  }

  test("PairGen is one lazy pass: no job at call time, one hash exchange, no range/window/cache") {
    import spark.implicits._
    // small buckets plus one hot bucket (past the all-pairs cap of 64)
    val buckets = ((1L to 100L).map(i => (i % 10, i, i)) ++
      (1L to 100L).map(i => (99L, 1000L + i, i))).toDF("key", "id", "sort")
    val (frames, jobs) = SparkSpec.countJobs(spark)(
      Seq(stages.PairGen.pairs(buckets),
        stages.PairGen.pairs(buckets, 64, dropHotAbove = Some(50)),
        stages.PairGen.pairs(buckets, 16, dropHotAbove = Some(80), chainWidth = 3)))
    assert(jobs == 0, s"PairGen.pairs ran $jobs Spark job(s) at call time")
    for (df <- frames) {
      val p = plan(df)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, s"expected one hash exchange:\n$p")
      for (bad <- Seq("rangepartitioning", "Window", "InMemory"))
        assert(!p.contains(bad), s"unexpected $bad in the PairGen plan:\n$p")
    }
  }

  test("trigram pairs go through PairGen: no join or repartition on the gram string") {
    val q = queries.Queries.queries("q20_ngram_jaccard")(spark, dir)
    val o = q.queryExecution.optimizedPlan.toString
    // the old plan self-joined the distinct (doc_id, g) grams on g after a
    // repartition(g); the grams are now hashed keys inside PairGen
    assert("\\bg#\\d+".r.findFirstIn(o).isEmpty, s"gram string column in the optimized plan:\n$o")
    assert(!o.contains("RepartitionByExpression [g#"), s"repartition on the gram:\n$o")
    val p = plan(q)
    val onKey = "Exchange hashpartitioning\\(key#\\d+".r.findAllIn(p).length
    assert(onKey == 1, s"expected one PairGen hash exchange on the key, got $onKey:\n$p")
    Pipeline.clearIntermediateCaches(spark)
  }

  test("Substring.edges keeps its exchange and join counts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val p = plan(stages.Substring.edges(docs, model.EngineConfig.default))
    // PairGen's key exchange and the pair count's; both per-doc count
    // joins broadcast at this size
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val joins = "(SortMerge|BroadcastHash|ShuffledHash|BroadcastNestedLoop)Join".r.findAllIn(p).length
    assert((exchanges, joins) == ((2, 2)), s"got $exchanges hash exchanges, $joins joins:\n$p")
    Pipeline.clearIntermediateCaches(spark)
  }

  test("CC loop iteration: one hash exchange per star pass plus the stop test, no window or distinct") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("src", "dst")
    val p = plan(stages.ConnectedComponents.starForestBreaks(
      stages.ConnectedComponents.starIteration(edges)))
    // four star passes + the stop test's group-by on the node, and nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 5, s"expected five hash exchanges:\n$p")
    assert("Exchange ".r.findAllIn(p).length == 5, s"unexpected non-hash exchange:\n$p")
    assert(!p.contains("Window"), s"unexpected Window in the CC iteration plan:\n$p")
    // a distinct is an aggregate with grouping keys and no functions
    assert(!"HashAggregate\\(keys=\\[[^\\]]+\\], functions=\\[\\]".r.findFirstIn(p).isDefined,
      s"unexpected distinct aggregate in the CC iteration plan:\n$p")
  }

  test("a fresh runResumable submits at most 5 more jobs than runLite on the same corpus") {
    val docs = fixtures.Corpus.generate(spark, 400)
      .select("id", "url", "warc_ts", "text", "lang").persist()
    docs.count()
    try {
      val (_, lite) = SparkSpec.countJobs(spark)(Pipeline.runLite(spark, docs).collect())
      Pipeline.clearIntermediateCaches(spark)
      val root = java.nio.file.Files.createTempDirectory("graft-jobs").toString
      val (_, commit) = SparkSpec.countJobs(spark)(Pipeline.runResumable(spark, docs, root).collect())
      // the commit adds its three parquet writes and the input-fingerprint
      // aggregate to the lite call's jobs; survivors, signatures and
      // lineage are no longer written
      assert(commit <= lite + 5, s"fresh runResumable ran $commit jobs, runLite $lite")
    } finally {
      docs.unpersist()
      Pipeline.clearIntermediateCaches(spark)
    }
  }

  test("a lite call leaves one cache per stage output some later job reads again") {
    val docs = fixtures.Corpus.generate(spark, 400)
      .select("id", "url", "warc_ts", "text", "lang").persist()
    docs.count()
    val sc = spark.sparkContext
    try {
      val before = sc.getPersistentRDDs.keySet
      Pipeline.runLite(spark, docs).collect()
      val added = sc.getPersistentRDDs.keySet -- before
      // content keys and holdouts (exact-dup split), signatures, the
      // level ≥ 1 scored pairs and their docs' shingles (exactVerify), the
      // winnow fingerprints (substring) and the survivor assignments
      // (reattach); the candidate pairs have one reader and are not cached
      assert(added.size == 7, s"lite call left ${added.size} new caches: $added")
    } finally {
      docs.unpersist()
      Pipeline.clearIntermediateCaches(spark)
    }
  }

  test("q08 dense ids avoid the single-partition global window (W6 hazard)") {
    val p = plan(queries.Queries.queries("q08_dense_ids")(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"dense-id path must stay distributed:\n$p")
  }
}
