package graft

import graft.fixtures.Corpus
import graft.model.EngineConfig
import org.apache.spark.sql.functions._

/** §3.3 orchestrator contract (person_2/person.py:28-41): sequential
  * per-entity models with DISTINCT thresholds through the real LSH engine
  * (runLite + forThreshold), unified namespaced lookup, cross-entity
  * fills. The oracle-checked lifecycle lives in Queries.q39; this spec
  * pins the engine-config path the oracle cannot express. */
class MultiEntitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = {
    val c = Corpus.generate(spark, 400).select("id", "text").persist()
    c.count()
    c
  }

  // two entity types with their own models — distinct LSH banding via
  // forThreshold, the analog of per-model threshold_match_weight
  private def models = Seq(
    (MultiEntity.EntityModel("person", 1000000L,
      d => Pipeline.runLite(spark, d, EngineConfig.forThreshold(0.7))),
      corpus.filter(col("id") % 2 === 0)),
    (MultiEntity.EntityModel("child", 2000000L,
      d => Pipeline.runLite(spark, d, EngineConfig.forThreshold(0.8))),
      corpus.filter(col("id") % 2 === 1)))

  private lazy val lookup = {
    val l = MultiEntity.unifiedLookup(models).persist()
    l.count()
    l
  }

  test("every input id appears once, in its own entity namespace") {
    assert(lookup.count() == 400)
    assert(lookup.select("id").distinct().count() == 400)
    val wrong = lookup.filter(
      (col("entity_type") === "person" && col("id") % 2 =!= 0) ||
      (col("entity_type") === "child" && col("id") % 2 =!= 1)).count()
    assert(wrong == 0)
  }

  test("namespaced ids are dense per entity from the range base (W6 contract)") {
    Seq(("person", 1000000L), ("child", 2000000L)).foreach { case (t, base) =>
      val ids = lookup.filter(col("entity_type") === t)
        .select("new_id").distinct().as[Long].collect().sorted
      assert(ids.head == base, s"$t ids must start at $base (got ${ids.head})")
      assert(ids.last == base + ids.length - 1, s"$t ids must be dense")
    }
  }

  test("clusters never cross entities; one master per cluster; master = min id") {
    // every new_id maps to exactly one (entity_type, cluster_id)
    val multi = lookup.groupBy("new_id")
      .agg(countDistinct("entity_type").as("nt"), countDistinct("cluster_id").as("nc"),
        sum(col("is_master").cast("long")).as("nm"), min("id").as("min_id"),
        first("cluster_id").as("cid"))
    assert(multi.filter(col("nt") =!= 1 || col("nc") =!= 1).count() == 0)
    assert(multi.filter(col("nm") =!= 1).count() == 0, "exactly one master per cluster")
    assert(multi.filter(col("cid") =!= col("min_id")).count() == 0,
      "cluster_id must be the min member id")
  }

  test("per-entity models are independent: a doc's cluster stays within its slice") {
    // ids of different parity can never share a cluster even if their text
    // is similar — the per-entity loop must isolate them
    val crossed = lookup
      .select((col("cluster_id") % 2).as("cp"), (col("id") % 2).as("ip"))
      .filter(col("cp") =!= col("ip"))
    assert(crossed.count() == 0)
  }

  test("unifiedMasters back-fills sparse columns from the best non-master member") {
    val payload = corpus.select(col("id"),
      when(col("id") % 7 === 3, col("id")).as("cni"))
    val masters = MultiEntity.unifiedMasters(lookup, payload, Seq("cni"), col("id"))
    // driver-side oracle from the lookup itself
    val mem = lookup.join(payload, Seq("id"), "left")
      .select($"new_id", $"id", $"cni", $"is_master")
      .as[(Long, Long, Option[Long], Boolean)].collect()
    val expected = mem.filter(_._4).map { case (nid, id, cni, _) =>
      val donor = mem.filter(m => m._1 == nid && !m._4 && m._3.isDefined)
        .sortBy(_._2).lastOption.flatMap(_._3)
      (id, cni.orElse(donor))
    }.toMap
    val got = masters.select($"id", $"cni".cast("long"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got == expected)
    // at least one master actually got filled (the plant is dense enough)
    val filledCount = expected.count { case (id, v) =>
      v.isDefined && id % 7 != 3 }
    assert(filledCount > 0, "fixture must exercise the fill path")
  }

  test("a donor whose RAW id numerically equals a namespaced new_id still donates") {
    // regression: crossEntityFill's default donor filter (id =!= clusterCol)
    // compares a raw doc id against the NAMESPACED new_id when keying by
    // new_id — a purely coincidental numeric collision silently dropped the
    // only donor. unifiedMasters must pass excludeSelf = false (masters are
    // already removed by the is_master split).
    val lk = Seq(
      // one cluster: master id=5, donor id=1000042 == the cluster's new_id
      ("person", 5L, 5L, 1000042L, true),
      ("person", 1000042L, 5L, 1000042L, false)
    ).toDF("entity_type", "id", "cluster_id", "new_id", "is_master")
    val payload = Seq((5L, None: Option[Long]), (1000042L, Some(77L)))
      .toDF("id", "cni")
    val masters = MultiEntity.unifiedMasters(lk, payload, Seq("cni"), col("id"))
    val got = masters.select($"id", $"cni".cast("long")).as[(Long, Option[Long])].collect()
    assert(got.sameElements(Array((5L, Some(77L)))),
      s"coincidental id==new_id donor must still back-fill (got ${got.mkString(",")})")
  }

  test("duplicate range bases are rejected up front (guard cannot see them)") {
    import org.apache.spark.sql.DataFrame
    val idassign: DataFrame => DataFrame =
      d => d.select(col("id"), col("id").as("cluster_id"))
    val dup = Seq(
      (MultiEntity.EntityModel("a", 100L, idassign), spark.range(1, 3).toDF("id")),
      (MultiEntity.EntityModel("b", 100L, idassign), spark.range(11, 13).toDF("id")))
    val ex = intercept[IllegalArgumentException](MultiEntity.unifiedLookup(dup))
    assert(ex.getMessage.contains("range bases must be unique"))
  }

  test("namespace overflow fails loudly instead of colliding with the neighbor") {
    import org.apache.spark.sql.DataFrame
    // identity dedup: every id its own cluster → cluster count == id count
    val idassign: DataFrame => DataFrame =
      d => d.select(col("id"), col("id").as("cluster_id"))
    def mk(nA: Int) = Seq(
      (MultiEntity.EntityModel("a", 100L, idassign),
        spark.range(1, nA + 1).toDF("id")),
      (MultiEntity.EntityModel("b", 103L, idassign),
        spark.range(11, 13).toDF("id")))
    // three clusters fit the [100, 103) gap
    assert(MultiEntity.unifiedLookup(mk(3)).filter(col("entity_type") === "a")
      .select(max("new_id")).as[Long].head() == 102L)
    // a fourth would silently take b's new_id 103 — must raise instead the
    // moment new_id is consumed (the guard lives in the column, so a bare
    // count() that prunes new_id away cannot see it — every real consumer
    // of the lookup reads new_id)
    val ex = intercept[Exception](
      MultiEntity.unifiedLookup(mk(4)).select(max("new_id")).collect())
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    assert(chain(ex).contains("overflowed its id namespace"),
      s"unexpected failure: ${chain(ex)}")
  }
}
