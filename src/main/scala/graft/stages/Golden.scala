package graft.stages

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Canonical-document ("golden record") selection + id namespacing
  * (SURVEY §7.2 module 10).
  *
  * Reference semantics being re-expressed:
  * - master re-selection by completeness then id
  *   (`person_1/dedup_per.sql:102-121`, W5): ORDER BY non_null_count DESC,
  *   TRY_CAST(id) ASC NULLS LAST, id ASC;
  * - per-column recency fill (`person_1/dedup_per.sql:226-301`, W4):
  *   first non-null by last_updated DESC;
  * - dense new ids from a namespace base (`person_1/dedup_per.sql:365-371`,
  *   `person_2/fv_all_person_lookup.sql:32-109`, W6).
  */
object Golden {

  /** Pick one canonical doc per cluster: longest text (completeness analog),
    * then earliest warc_ts (most-authoritative crawl), then min id —
    * a total order, so deterministic (reference invariant §1.4.4). */
  def canonicalDocs(clustered: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(length(col("text")).desc, col("warc_ts").asc, col("id").asc)
    clustered.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-cluster, per-column most-recent non-null fill (W4/A7 analog):
    * one pass with max_by over (value, recency) — not one window per column. */
  def goldenFill(clustered: DataFrame, orderCol: String, fillCols: Seq[String]): DataFrame = {
    val aggs = fillCols.map { c =>
      // ordering key is (recency, value): recency alone is not a total
      // order, and on ties max_by keeps whichever row the merge visits
      // first — nondeterministic across partitionings, violating the
      // byte-identical-rerun invariant. NULL values order first in the
      // struct, so a non-null value still wins its recency tie.
      // A non-null value with NULL recency stays ELIGIBLE and loses to any
      // non-null recency (struct with null first field sorts lowest) —
      // T-SQL parity: ORDER BY last_updated DESC puts NULLs last, it does
      // not exclude the row (`person_1/link_model_per.py:1597`).
      max_by(col(c), when(col(c).isNotNull, struct(col(orderCol), col(c)))).as(c)
    }
    clustered.groupBy("cluster_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Dense ids from a namespace base — scalable form of
    * `DENSE_RANK() OVER (ORDER BY …) + base` (W6). A single-partition
    * global window is the reference shape but a scale hazard (SURVEY
    * §7.5.5); this version range-partitions the distinct keys, sorts each
    * partition, and numbers the rows with `zipWithIndex` (one small job
    * counts each partition's rows, then offsets follow partition order):
    * distributed, Spark's own total order, same result.
    *
    * Re-execution safe: the range bounds are sampled once, when the
    * shuffle dependency is built, and every later read of the returned
    * frame — a second action, a consumer after the engine caches were
    * cleared, a recomputed lost shuffle block — goes through that same
    * dependency, so each partition holds the same keys in the same order
    * and gets the same ids.
    *
    * Any orderable key type ranks in Spark's order (strings by UTF-8
    * bytes); a null key, if present, ranks first. */
  def denseIds(spark: SparkSession, masters: DataFrame, keyCol: String, base: Long,
               partitions: Int = 0): DataFrame = {
    // an explicit partition count: AQE does not coalesce a user-specified
    // range repartition
    val n = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val key = col(keyCol).asc_nulls_first
    val ranked = masters.select(col(keyCol)).distinct()
      .repartitionByRange(n, key)
      .sortWithinPartitions(key)
      .rdd.zipWithIndex()
      .map { case (r, i) => Row(r.get(0), base + 1 + i) }
    spark.createDataFrame(ranked, StructType(Seq(
      masters.schema(keyCol), StructField("new_id", LongType, nullable = false))))
  }

  /** Case-restore update-join (J6 variant,
    * `person_1/link_model_per.py:1379-1399`: `UPDATE c SET … FROM lookup c
    * INNER JOIN person p ON c.id = p.id` restoring original-case names).
    * The linking pipeline lowercases/cleans compared columns; the published
    * lookup restores the ORIGINAL source values by id. Spark has no
    * in-place UPDATE — the same semantics is a join producing a new table
    * (broadcast-eligible when the restored projection is narrow). */
  def restoreOriginal(lookup: DataFrame, source: DataFrame, idCol: String,
                      restoreCols: Seq[String]): DataFrame = {
    val src = source.select((idCol +: restoreCols).map(col): _*)
    restoreCols.foldLeft(lookup)((df, c) => df.drop(c))
      .join(src, Seq(idCol), "left")
  }

  /** Ordered string aggregation (W8, the reference's alternative
    * golden-record form: `STRING_AGG(col, ', ') WITHIN GROUP (ORDER BY
    * last_updated DESC)` + first-token extract,
    * `person_1/link_model_per.py:1591-1665`): collect (order, value)
    * structs, sort, reverse, join — one hash-aggregate shuffle, no window.
    * Ties on the order column break by value descending (total order ⇒
    * deterministic, reference invariant §1.4.4). */
  def orderedStringAgg(df: DataFrame, keyCol: String, valCol: String,
                       orderCol: String, sep: String = ", "): DataFrame =
    df.filter(col(valCol).isNotNull)
      .groupBy(keyCol)
      .agg(array_join(
        expr(s"transform(reverse(array_sort(collect_list(struct($orderCol as o, $valCol as v)))), x -> x.v)"),
        sep).as(s"${valCol}_agg"))

  /** Lineage lookup old_id → (cluster_id, new_id, is_master) — the engine's
    * `DO_NOT_MIGRATE_*_lookup` analog (`person_1/person.py:281`). */
  def lookupTable(assignments: DataFrame, newIds: DataFrame): DataFrame =
    assignments
      .join(newIds.withColumnRenamed("cluster_id", "cid"),
        assignments("cluster_id") === col("cid"), "left")
      .drop("cid")
      .withColumn("is_master", col("id") === col("cluster_id"))
}
