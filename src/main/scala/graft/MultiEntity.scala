package graft

import graft.compare.PersonParity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-entity orchestrator — the reference's §3.3 lifecycle
  * (`person_2/person.py:28-41`) re-expressed Spark-first:
  *
  *   1. a sequential driver-side loop runs one dedup model per entity type
  *      (person/child/parent/witness each with its own model JSON and
  *      threshold, `person_2/person.py:28-32`) — here each entity brings its
  *      own `dedup` function (typically [[Pipeline.runLite]] with a
  *      per-entity [[graft.model.EngineConfig.forThreshold]] config);
  *   2. the per-entity lookups union into ONE namespaced lookup
  *      (`person_2/fv_all_person_lookup.sql:30-115`: DENSE_RANK per type +
  *      1M/2M/3M/4M/5M range bases) via the distributed dense-id form
  *      ([[PersonParity.namespacedIds]]: range sort + `zipWithIndex`, no
  *      single-partition window);
  *   3. master rows per type insert into the unified table and sparse
  *      columns back-fill from the highest-ordered non-master cluster
  *      member (`person_2/fv_person.sql:36-338`,
  *      [[PersonParity.crossEntityFill]]).
  *
  * Driver surface: Queries.q39 runs this lifecycle end-to-end with a
  * DuckDB oracle; MultiEntitySpec drives it with real per-entity LSH
  * configs through runLite.
  */
object MultiEntity {

  /** One entity's model: its namespace range base and its dedup function
    * `docs(id, …) => assignments(id, cluster_id)` — the analog of one
    * `Person_x().execute(…)` with its own trained model + threshold. */
  final case class EntityModel(
      entityType: String,
      rangeBase: Long,
      dedup: DataFrame => DataFrame)

  /** Sequential per-entity dedup loop + unified namespaced lookup
    * (`fv_all_person_lookup` analog). Output columns: entity_type, id,
    * cluster_id, new_id (= rangeBase - 1 + dense rank of cluster_id within
    * the entity), is_master (J7 semantics: the row IS its cluster's min). */
  def unifiedLookup(models: Seq[(EntityModel, DataFrame)]): DataFrame = {
    require(models.nonEmpty, "at least one entity model required")
    require(models.map(_._1.entityType).distinct.size == models.size,
      "entity types must be unique")
    // Equal bases would fully collide two entities' namespaces AND blind
    // the overflow guard below (no base sorts strictly above a duplicate,
    // so both ceilings become Long.MaxValue and raise_error never fires).
    require(models.map(_._1.rangeBase).distinct.size == models.size,
      "range bases must be unique — duplicate bases collide namespaces")
    // cached (engine-tracked): every entity's assignment tail (its dedup
    // model's CC groupBy + joins) sits under this union, and downstream
    // consumers reference it repeatedly — namespacedIds' per-type dense-id
    // stats jobs plus its final join, then unifiedMasters' member/donor
    // splits. Without the cache each reference re-runs every model.
    val lookup = graft.stages.IntermediateCaches.persistTracked(
      models.map { case (m, docs) =>
        m.dedup(docs)
          .select(col("id"), col("cluster_id"))
          .withColumn("entity_type", lit(m.entityType))
      }.reduce(_ unionByName _))
    val bases = models.map { case (m, _) => m.entityType -> m.rangeBase }.toMap
    // Namespace-overflow guard, in the PLAN (no extra action): if an
    // entity resolves to more clusters than the gap to the next range
    // base, its new_ids would silently collide with the neighbor's
    // namespace and cross-entity fills would read the wrong clusters.
    // raise_error fires on the first violating row whenever new_id is
    // consumed (every real consumer reads it; a bare count() that prunes
    // the column away does not evaluate the guard).
    val sortedBases = bases.values.toSeq.sorted
    val ceilOf: Map[String, Long] = bases.map { case (t, b) =>
      t -> sortedBases.find(_ > b).getOrElse(Long.MaxValue)
    }
    val guarded = models.foldLeft(PersonParity.namespacedIds(lookup, bases)) {
      case (df, (m, _)) =>
        val ceil = ceilOf(m.entityType)
        df.withColumn("new_id",
          when(col("entity_type") === m.entityType && col("new_id") >= ceil,
            raise_error(concat(
              lit(s"entity '${m.entityType}' overflowed its id namespace " +
                s"[${m.rangeBase}, $ceil): new_id "), col("new_id").cast("string")))
              .cast("long"))
            .otherwise(col("new_id")))
    }
    guarded.withColumn("is_master", col("id") === col("cluster_id"))
  }

  /** Unified master table with cross-entity back-fills (`fv_person`
    * analog): one row per cluster (the master), each `fillCol` COALESCEd
    * from the highest-`orderKey` non-master member holding a value —
    * keyed by the namespaced new_id, i.e. across the unioned namespace
    * exactly like the reference's cni_number / parent-status fills
    * (`person_2/fv_person.sql:268-338`).
    *
    * @param payload per-id columns to carry/fill: (id, fillCols…) */
  def unifiedMasters(lookup: DataFrame, payload: DataFrame,
                     fillCols: Seq[String], orderKey: Column): DataFrame = {
    // cached (engine-tracked): the master/donor splits and the per-fillCol
    // fold each reference this join — F fill columns would otherwise
    // re-run it (and everything under the lookup) F+1 times
    val members = graft.stages.IntermediateCaches.persistTracked(
      lookup.join(payload, Seq("id"), "left"))
    val masters = members.filter(col("is_master"))
    val donors = members.filter(!col("is_master"))
    fillCols.foldLeft(masters) { (m, c) =>
      // excludeSelf = false: the !is_master split above already removed
      // masters, and new_id is a NAMESPACED id — the default `id =!= new_id`
      // donor filter would compare a raw doc id against a namespaced one and
      // drop a legitimate donor on a purely coincidental numeric collision
      PersonParity.crossEntityFill(m, donors, c, orderKey,
        clusterCol = "new_id", excludeSelf = false)
    }
  }
}
