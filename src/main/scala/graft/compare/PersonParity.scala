package graft.compare

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity relational operators over the person schema — the
  * T-SQL post-processing re-expressed Spark-first (SURVEY §2.3 J6-J8,
  * §2.5 A5-A7, §2.6 W5-W7). These run against the F2 person fixture in
  * tests; the web pipeline uses their Golden.* analogs.
  */
object PersonParity {

  /** W5 master re-selection by completeness (`person_1/dedup_per.sql:63-127`):
    * rank cluster members by non-null count DESC, try_cast(id) ASC NULLS
    * LAST, id ASC; additionally a cluster whose members ALL carry an
    * underscore-id keeps its rows eligible, otherwise underscore ids are
    * excluded from mastership (`dedup_per.sql:75-86`). */
  def selectMasters(rows: DataFrame, completenessCols: Seq[String]): DataFrame = {
    val nonNullCount = completenessCols
      .map(c => when(col(c).isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    val hasUnderscore = col("id").contains("_").cast("int")
    val clusterW = Window.partitionBy("cluster_id")
    val allUnderscore = min(hasUnderscore === 1).over(clusterW) // A6 analog
    val eligible = rows
      .withColumn("__all_underscore", allUnderscore)
      .filter(!col("id").contains("_") || col("__all_underscore"))
    val w = Window.partitionBy("cluster_id").orderBy(
      nonNullCount.desc,
      PersonOps.tryCastId("id").asc_nulls_last,
      col("id").asc)
    eligible.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__all_underscore")
  }

  /** W4/A7 golden-record fill: per column, latest non-null by last_updated
    * (`person_1/dedup_per.sql:226-330`). One kernel — the tie-break and
    * null-eligibility semantics live in [[graft.stages.Golden.goldenFill]]. */
  def goldenFill(rows: DataFrame, fillCols: Seq[String]): DataFrame =
    graft.stages.Golden.goldenFill(rows, "last_updated", fillCols)

  /** DOB repair rules (`person_1/dedup_per.sql:431-571`), T-SQL
    * DATEDIFF(YEAR) = year-boundary crossings (F14 semantics — NOT full
    * years): a master DOB is invalid if ≥ 100 boundary-years old, or within
    * 12 months of date_created, or after date_created; replaced by the most
    * recent (by last_updated) valid member DOB in the cluster. */
  def repairDob(masters: DataFrame, members: DataFrame): DataFrame = {
    def yearDiff(a: Column, b: Column): Column = year(a) - year(b)
    def invalid(dob: Column, created: Column): Column =
      dob.isNotNull && (
        yearDiff(created, dob) >= 100 ||
        dob >= add_months(created, -12))
    // dob breaks last_updated ties: only the dob is extracted, so ordering
    // by it makes the repair deterministic under any partitioning
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("last_updated").desc, col("date_of_birth").asc)
    val candidates = members
      .filter(col("date_of_birth").isNotNull &&
        !invalid(col("date_of_birth"), col("date_created")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("date_of_birth").as("__repl"))
    masters.join(candidates, Seq("cluster_id"), "left")
      .withColumn("date_of_birth",
        when(invalid(col("date_of_birth"), col("date_created")) && col("__repl").isNotNull,
          col("__repl"))
          .otherwise(col("date_of_birth")))
      .drop("__repl")
  }

  /** Cross-table COALESCE back-fill after the multi-entity union
    * (`person_2/fv_person.sql:268-338`): a unified master row missing
    * `fillCol` takes the value of the highest-ordered NON-master member of
    * its cluster — across entity types, because the member table is the
    * unioned namespace. Reference shape: CTE ranks non-null, non-master
    * members per cluster by a numeric cast of the id DESC (`CAST(d.id AS
    * INT) DESC` for cni_number; `TRY_CAST(LEFT(id_parent, …))` for the
    * parent status), takes rn=1, and UPDATEs masters WHERE the column IS
    * NULL.
    *
    * Spark form: one max_by aggregate per cluster (no per-cluster window
    * task) + a broadcast-eligible left join; ties on `orderKey` break by
    * the fill value itself (total order ⇒ deterministic — the T-SQL
    * ROW_NUMBER leaves ties engine-ordered, which the reference gets away
    * with only because its ids are unique).
    *
    * @param masters  unified rows carrying `clusterCol` + `fillCol`
    * @param members  all dedup-lookup member rows: `clusterCol`, `id`,
    *                 `fillCol` (+ whatever `orderKey` reads)
    * @param orderKey member ranking expression, highest wins
    * @param excludeSelf drop members whose `id` equals `clusterCol` (the
    *        master-by-min-id convention). Pass false when `members` is
    *        already master-free AND `clusterCol` is a NAMESPACED id
    *        (new_id): there `id =!= new_id` compares a raw doc id against
    *        a namespaced id, and a purely coincidental numeric collision
    *        would silently drop a legitimate donor. */
  def crossEntityFill(masters: DataFrame, members: DataFrame, fillCol: String,
                      orderKey: Column, clusterCol: String = "cluster_id",
                      excludeSelf: Boolean = true): DataFrame = {
    val donors = members
      .filter(col(fillCol).isNotNull &&
        (if (excludeSelf) col("id") =!= col(clusterCol) else lit(true)))
      .groupBy(clusterCol)
      .agg(max(struct(orderKey.as("o"), col(fillCol).as("v"))).as("__best"))
      .select(col(clusterCol), col("__best.v").as("__fill"))
    masters.join(donors, Seq(clusterCol), "left")
      .withColumn(fillCol, coalesce(col(fillCol), col("__fill")))
      .drop("__fill")
  }

  /** W6 namespaced dense ids: DENSE_RANK per entity type + range base
    * (1M/2M/…), `person_2/fv_all_person_lookup.sql:32-109`.
    *
    * NOT the reference's literal
    * `dense_rank().over(partitionBy(entity_type))` — with a handful of
    * entity types that is one partition per type, i.e. the W6
    * single-partition hazard (SURVEY §7.5.5) on whichever type dominates.
    * Instead each type goes through the distributed dense-id form (range
    * partition + sort + zipWithIndex, [[graft.stages.Golden.denseIds]])
    * over its distinct cluster_ids and joins back: same total
    * order, same ids, no single-partition window. */
  def namespacedIds(lookup: DataFrame, rangeBases: Map[String, Long]): DataFrame = {
    val spark = lookup.sparkSession
    if (rangeBases.isEmpty) // no namespaces configured → no ids to assign
      return lookup.withColumn("new_id", lit(null).cast("long"))
    val perType = rangeBases.toSeq.sortBy(_._1).map { case (t, b) =>
      // denseIds emits base-1 + rank(1..n) = base, base+1, … per distinct key
      graft.stages.Golden.denseIds(
          spark, lookup.filter(col("entity_type") === t), "cluster_id", b - 1)
        .withColumn("entity_type", lit(t))
    }.reduce(_ unionByName _)
    lookup.join(perType, Seq("entity_type", "cluster_id"), "left")
  }
}
