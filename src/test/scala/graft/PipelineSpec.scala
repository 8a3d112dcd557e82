package graft

import graft.expr.Hashing
import graft.fixtures.Corpus
import graft.model.EngineConfig
import org.apache.spark.sql.functions._

/** End-to-end gates (SURVEY §5): recall/precision vs planted truth AND vs a
  * slow-but-obvious all-pairs oracle at the identical shingle/signature
  * config; extractor byte-identity; determinism. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = EngineConfig.default
  private val N = 1200L

  private lazy val corpus = {
    val c = Corpus.generate(spark, N).persist()
    c.count()
    c
  }

  private lazy val result =
    Pipeline.run(spark, corpus.select("id", "url", "warc_ts", "text", "lang"), cfg)

  test("extractor recovers text byte-identically from html (input_hint invariant)") {
    val mism = corpus.select("html", "text").as[(Array[Byte], String)]
      .collect()
      .count { case (h, t) => graft.extract.TextExtract.extract(h) != t }
    assert(mism == 0)
  }

  test("fromPages: extracted text, id = xxhash64(url), verifyUnique keeps every row") {
    val pages = corpus.select("url", "warc_ts", "html", "lang")
    val docs = Pipeline.fromPages(pages)
    assert(docs.columns.toSeq == Seq("id", "url", "warc_ts", "text", "lang"))
    val joined = docs.join(corpus.select(col("url"), col("text").as("want")), "url")
    val bad = joined.filter(!(col("text") <=> col("want")) || col("id") =!= xxhash64(col("url")))
    assert(joined.count() == N && bad.count() == 0, s"${bad.count()} rows differ")
    // a page listed twice under one url is not an id collision
    val twice = pages.unionByName(pages.orderBy("url").limit(1))
    def rows(verify: Boolean) = Pipeline.fromPages(twice, verifyUnique = verify)
      .as[(Long, String, java.sql.Timestamp, String, String)].collect().sortBy(r => (r._1, r._2))
    val (plain, verified) = (rows(verify = false), rows(verify = true))
    assert(plain.length == N + 1 && plain.toSeq == verified.toSeq)
  }

  test("dup-pair recall >= 0.99 and precision = 1.0 vs planted truth") {
    val truth = Corpus.truthPairs(corpus)
    val a = result.assignments
    val joined = truth
      .join(a.select(col("id").as("id_l"), col("cluster_id").as("c_l")), "id_l")
      .join(a.select(col("id").as("id_r"), col("cluster_id").as("c_r")), "id_r")
    val (hits, total) = joined
      .agg(sum((col("c_l") === col("c_r")).cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(hits.toDouble / total >= 0.99, s"recall ${hits.toDouble / total}")

    val withT = a.join(corpus.select("id", "truth_cluster"), "id")
    val co = withT.select(col("cluster_id"), col("id").as("l"), col("truth_cluster").as("tl"))
      .join(withT.select(col("cluster_id"), col("id").as("r"), col("truth_cluster").as("tr")),
        "cluster_id")
      .filter(col("l") < col("r"))
    val (good, all) = co.agg(sum((col("tl") === col("tr")).cast("long")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(good == all, s"false merges: ${all - good} of $all")
  }

  test("recall >= 0.99 vs all-pairs oracle at the same config (minhash path)") {
    // oracle: exact shingle-set Jaccard >= threshold over ALL pairs, plus
    // exact-text equality — single-node reference implementation
    val rows = corpus.select("id", "text").as[(Long, String)].collect()
    val sh = rows.map { case (id, t) => id -> Hashing.shingleHashes(t, cfg.shingleK) }
    val parent = collection.mutable.Map(rows.map(_._1 -> -1L).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) >= 0) r = parent(r); r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byText = rows.groupBy(_._2)
    byText.values.foreach(g => g.sliding(2).foreach {
      case Array((a, _), (b, _)) => union(a, b)
      case _ =>
    })
    for (i <- sh.indices; j <- (i + 1) until sh.length) {
      val (ida, a) = sh(i); val (idb, b) = sh(j)
      if (a.nonEmpty && b.nonEmpty && Hashing.exactJaccard(a, b) >= cfg.jaccardThreshold)
        union(ida, idb)
    }
    val oracle = rows.map { case (id, _) => id -> find(id) }.toMap
    val oraclePairs = oracle.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(m => m.keys.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val engine = result.assignments.as[(Long, Long)].collect().toMap
    val found = oraclePairs.count { case (a, b) => engine(a) == engine(b) }
    val recall = found.toDouble / oraclePairs.size
    assert(recall >= 0.99, s"oracle recall $recall (${oraclePairs.size} pairs)")
  }

  test("cluster_id = min member id invariant") {
    val bad = result.assignments.groupBy("cluster_id").agg(min("id").as("min_id"))
      .filter(col("cluster_id") =!= col("min_id")).count()
    assert(bad == 0)
  }

  test("every input doc gets exactly one assignment") {
    assert(result.assignments.count() == N)
    assert(result.assignments.select("id").distinct().count() == N)
  }

  test("metrics: five counters computed in ONE action, values = per-frame truth") {
    val input = spark.range(0, 100).toDF("id").persist()
    val holdouts = spark.range(0, 7).toDF("id").persist()
    val cands = spark.range(0, 33).toDF("p").persist()
    val edges = spark.range(0, 21).toDF("e").persist()
    val assigns = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("id", "cluster_id").persist()
    Seq(input, holdouts, cands, edges, assigns).foreach(_.count()) // materialize
    // count driver ACTIONS (SQL executions), not Spark jobs: AQE legally
    // splits one action into a job per shuffle stage. The defect being
    // pinned was five serial actions; the fix is exactly one.
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val got = try {
      val m = Pipeline.pipelineCounters(input, holdouts, cands, edges, assigns)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (actions.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(500)
      m
    } finally spark.listenerManager.unregister(listener)
    assert(actions.get() == 1, s"counters ran ${actions.get()} actions, expected 1")
    assert(got == Map("input_docs" -> 100L, "exact_holdouts" -> 7L,
      "candidate_pairs" -> 33L, "edges" -> 21L, "clusters" -> 3L))
    Seq(input, holdouts, cands, edges, assigns).foreach(_.unpersist())
  }

  test("metrics: ScaleStats telemetry rows ride the metrics table with limits") {
    val m = result.metrics.as[(String, Long)].collect().toMap
    // counter rows (values match the corpus run)
    assert(m("input_docs") == N)
    assert(m("clusters") > 0 && m("clusters") <= N)
    // telemetry rows: observed value AND its limit, so an operator watching
    // the table sees headroom shrinking before a bound trips
    for (k <- Seq("pairgen_max_big_keys_collected", "cc_max_driver_edges",
        "cc_driver_fast_path_limit", "cc_driver_runs", "cc_distributed_runs"))
      assert(m.contains(k), s"missing telemetry row $k in metrics: ${m.keys}")
    // this run resolved CC somewhere — one of the two paths must have fired
    assert(m("cc_driver_runs") + m("cc_distributed_runs") >= 1)
  }
}
