package graft.stages

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GoldenSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalDocs: longest text, then earliest ts, then min id") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, 10L, "aaa", ts("2024-01-02 00:00:00")),
      (2L, 10L, "aaaaa", ts("2024-01-03 00:00:00")), // longest wins
      (3L, 10L, "aaaaa", ts("2024-01-01 00:00:00")), // same len, earlier ts wins
      (9L, 20L, "x", ts("2024-01-01 00:00:00")))
      .toDF("id", "cluster_id", "text", "warc_ts")
    val c = Golden.canonicalDocs(df).select("cluster_id", "id").as[(Long, Long)]
      .collect().toMap
    assert(c == Map(10L -> 3L, 20L -> 9L))
  }

  test("goldenFill: per-column latest non-null (W4/A7 semantics)") {
    val df = Seq(
      (10L, 1L, Some("a"), None: Option[String]),
      (10L, 2L, None, Some("x")),
      (10L, 3L, Some("b"), None)) // latest non-null col1 = b (order 3)
      .toDF("cluster_id", "ord", "c1", "c2")
    val g = Golden.goldenFill(df, "ord", Seq("c1", "c2"))
      .as[(Long, String, String)].collect().head
    assert(g == ((10L, "b", "x")))
  }

  test("goldenFill: recency ties resolve by value — deterministic under reshuffle") {
    val df = Seq(
      (10L, 5L, Some("aa")), (10L, 5L, Some("zz")), (10L, 1L, Some("mm")))
      .toDF("cluster_id", "ord", "c1")
    // the tie at ord=5 must pick the max value, regardless of partitioning
    (1 to 8).foreach { p =>
      val g = Golden.goldenFill(df.repartition(p), "ord", Seq("c1"))
        .as[(Long, String)].collect().head
      assert(g == ((10L, "zz")), s"partitioning $p changed the tie winner: $g")
    }
  }

  test("denseIds: range sort + zipWithIndex equals single-window dense_rank") {
    val masters = (1L to 500L).filter(_ % 3 == 0).map(i => i * 7).toDF("cluster_id")
    val dist = Golden.denseIds(spark, masters, "cluster_id", 1000000L, partitions = 4)
      .as[(Long, Long)].collect().toMap
    val expected = masters.distinct()
      .withColumn("new_id",
        dense_rank().over(org.apache.spark.sql.expressions.Window.orderBy("cluster_id"))
          .cast("long") + lit(1000000L))
      .as[(Long, Long)].collect().toMap
    assert(dist == expected)
  }

  test("denseIds: bijective + order-preserving at multi-partition scale, " +
      "stable across repeated evaluation (sf0.1 regression)") {
    // 60k sparse shuffled keys across 32 range partitions. Before the
    // partitioning was pinned with a persist, the counts action and the
    // rank window each re-executed the range exchange with independently
    // SAMPLED boundaries — per-partition offsets keyed to stale pids gave
    // duplicate/gapped ids (caught by the q39 oracle at sf0.1).
    val keys = (1L to 60000L).map(i => graft.expr.Hashing.mix64(i) & 0xFFFFFFFFL)
    val masters = keys.toDF("cluster_id")
    val out = Golden.denseIds(spark, masters, "cluster_id", 5000000L, partitions = 32)
    // evaluate the SAME lazy output twice: with resampled boundaries these
    // disagreed run-to-run even when each individual run looked plausible
    val a = out.as[(Long, Long)].collect()
    val b = out.as[(Long, Long)].collect()
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1)))
    val distinctKeys = keys.distinct.sorted
    val byKey = a.toMap
    assert(byKey.size == distinctKeys.length)
    assert(byKey.values.toSeq.distinct.size == distinctKeys.length, "ids must be unique")
    // dense + order-preserving: sorted keys get exactly base+1..base+n
    distinctKeys.zipWithIndex.foreach { case (k, i) =>
      assert(byKey(k) == 5000001L + i, s"key $k rank ${i + 1}")
    }
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  test("denseIds: correct even when engine caches are cleared before consumption") {
    // regression: the old form collected per-partition counts keyed to ONE
    // sampled range partitioning and relied on the pinned cache to keep
    // every consumer on that sampling. clearIntermediateCaches before the
    // (lazy) output was consumed dropped the pin, the rank window
    // re-executed the exchange with RESAMPLED boundaries, and the stale
    // offsets emitted duplicate/gapped ids. The output must not depend on
    // any engine cache: the Caches doc ("clearing earlier is safe") holds.
    val keys = (1L to 20000L).map(i => graft.expr.Hashing.mix64(i) & 0xFFFFFFFFL)
    val out = Golden.denseIds(spark, keys.toDF("cluster_id"), "cluster_id",
      7000000L, partitions = 16)
    graft.Pipeline.clearIntermediateCaches(spark) // BEFORE any action on out
    val got = out.as[(Long, Long)].collect().toMap
    val distinctKeys = keys.distinct.sorted
    assert(got.size == distinctKeys.length)
    distinctKeys.zipWithIndex.foreach { case (k, i) =>
      assert(got(k) == 7000001L + i, s"key $k rank ${i + 1}")
    }
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  test("denseIds: string keys rank lexicographically; null key ranks first") {
    val masters = Seq(Some("pear"), Some("apple"), None, Some("fig"), Some("apple"))
      .toDF("s_name")
    val got = Golden.denseIds(spark, masters, "s_name", 100L, partitions = 4)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    assert(got == Map(None -> 101L, Some("apple") -> 102L,
      Some("fig") -> 103L, Some("pear") -> 104L))
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  test("denseIds: supplementary-plane string keys route by UTF-8 byte order " +
      "(UTF8String parity, not UTF-16 compareTo)") {
    // U+FFFF (one BMP code unit, UTF-8 EF BF BF) vs U+1F600 (surrogate pair,
    // UTF-8 F0 9F 98 80): UTF-8 sorts U+FFFF < U+1F600, Java UTF-16
    // compareTo sorts them the OTHER way round (￿ > \uD83D). With many
    // keys straddling range boundaries built from such strings, a
    // compareTo-based driver search mis-routes keys → duplicate/gapped ids.
    val emoji = new String(Character.toChars(0x1F600))
    val keys: Seq[String] = (0 until 2000).flatMap { i =>
      Seq(f"k$i%04d￿a", f"k$i%04d${emoji}b", f"k$i%04d-plain")
    }
    val shuffled = new scala.util.Random(7).shuffle(keys)
    val out = Golden.denseIds(spark, shuffled.toDF("s"), "s", 0L, partitions = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // expected order = Spark's own: sort the keys with Spark and rank
    val expected = keys.toDF("s").distinct().orderBy("s")
      .collect().map(_.getString(0)).zipWithIndex.map { case (k, i) => (k, i + 1L) }.toMap
    assert(out.size == expected.size)
    val bad = expected.collect { case (k, v) if out(k) != v => (k, out(k), v) }
    assert(bad.isEmpty, s"mis-ranked keys (first 5): ${bad.take(5).mkString(", ")}")
    graft.Pipeline.clearIntermediateCaches(spark)
  }

  /** key (as a string; null stays None) -> new_id, so NaN keys compare */
  private def idsByKey(df: org.apache.spark.sql.DataFrame): Map[Option[String], Long] =
    df.collect().map(r => (Option(r.get(0)).map(_.toString), r.getLong(1))).toMap

  /** The reference shape: one global window over the distinct keys. */
  private def denseRankIds(masters: org.apache.spark.sql.DataFrame, keyCol: String,
                           base: Long): Map[Option[String], Long] =
    idsByKey(masters.select(keyCol).distinct().withColumn("new_id",
      dense_rank().over(org.apache.spark.sql.expressions.Window
        .orderBy(col(keyCol).asc_nulls_first)).cast("long") + lit(base)))

  test("denseIds: double keys rank as dense_rank does (NaN last, null first, -0.0 = 0.0)") {
    val rnd = new scala.util.Random(11)
    val special = Seq(Some(2.5), Some(-1.0), None, Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(0.0), Some(-0.0), Some(1e-300), Some(2.5))
    val masters = (special ++ Seq.fill(3000)(Some(rnd.nextGaussian() * 1e6))).toDF("k")
    val got = idsByKey(Golden.denseIds(spark, masters, "k", 40L, partitions = 8))
    val expected = denseRankIds(masters, "k", 40L)
    assert(got.size == expected.size)
    assert(got == expected)
    assert(got(None) == 41L)
  }

  test("denseIds: date keys rank as dense_rank does") {
    val dates = spark.range(0, 3000).select(
      date_add(lit("1900-01-01").cast("date"), pmod(col("id") * 7919L, lit(60000L)).cast("int")).as("d"))
    val masters = dates.unionByName(Seq(Option.empty[java.sql.Date]).toDF("d"))
    val got = idsByKey(Golden.denseIds(spark, masters, "d", 0L, partitions = 8))
    val expected = denseRankIds(masters, "d", 0L)
    assert(got.size == expected.size)
    assert(got == expected)
    assert(got(None) == 1L)
  }

  test("goldenFill: NULL-recency rows stay eligible, losing to any dated row " +
      "(T-SQL ORDER BY DESC parity)") {
    // cluster 10: the only non-null value carries NULL recency → it fills
    // (T-SQL WITHIN GROUP (ORDER BY last_updated DESC) ranks NULLs last,
    // never excludes). cluster 20: a dated value beats the NULL-dated one.
    val df = Seq(
      (10L, None: Option[Long], Some("only")),
      (10L, Some(9L), None: Option[String]),
      (20L, None, Some("undated")),
      (20L, Some(1L), Some("dated")))
      .toDF("cluster_id", "ord", "c1")
    val got = Golden.goldenFill(df, "ord", Seq("c1"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(10L -> "only", 20L -> "dated"))
  }

  test("restoreOriginal: update-join restores source-cased values by id (J6)") {
    val lookup = Seq((1L, "anna maria", 10L), (2L, "bob", 20L), (3L, "cee", 30L))
      .toDF("id", "name", "cluster_id")
    val source = Seq((1L, "Anna-Maria"), (2L, "BOB"), (3L, "Cee"))
      .toDF("id", "name")
    val got = Golden.restoreOriginal(lookup, source, "id", Seq("name"))
      .select("id", "name", "cluster_id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.sameElements(Array(
      (1L, "Anna-Maria", 10L), (2L, "BOB", 20L), (3L, "Cee", 30L))))
  }

  test("orderedStringAgg: recency-descending concat, deterministic on ties (W8)") {
    val df = Seq(
      (1L, "a", 3), (1L, "b", 1), (1L, "c", 2),
      (2L, "x", 5), (2L, null.asInstanceOf[String], 9), // null values dropped
      (3L, "t1", 7), (3L, "t2", 7)                      // tie → value desc
    ).toDF("cluster_id", "v", "upd")
    val got = Golden.orderedStringAgg(df, "cluster_id", "v", "upd")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "a, c, b")
    assert(got(2L) == "x")
    assert(got(3L) == "t2, t1")
  }

  test("lookupTable: is_master flag and new_id propagation") {
    val assigns = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("id", "cluster_id")
    val newIds = Seq((1L, 1000001L), (5L, 1000002L)).toDF("cluster_id", "new_id")
    val lt = Golden.lookupTable(assigns, newIds)
      .select("id", "cluster_id", "new_id", "is_master")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(lt.sameElements(Array(
      (1L, 1L, 1000001L, true), (2L, 1L, 1000001L, false), (5L, 5L, 1000002L, true))))
  }
}
