package graft.stages

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A9 column profiling — the engine's `profile_columns` /
  * `completeness_chart` analog (`person_1/link_model_per.py:419-434`):
  * per-column cardinality and completeness as a metrics TABLE (the
  * reference renders charts; the engine emits rows a dashboard reads).
  * The skew-detection side of A9 (top-k biggest blocks,
  * `n_largest_blocks`) is the oracle-checked top-k group count of query
  * q09, and [[ScaleStats]] counts the hot buckets PairGen chains.
  */
object Profiling {

  /** One row per profiled column: (col_name, n_distinct, n_nonnull,
    * n_rows). ONE aggregation pass over the table for all columns.
    *
    * `approx = true` (default) uses approx_count_distinct — HLL sketches
    * merge map-side, so the pass stays a single narrow-input hash
    * aggregate at any scale (A8 note: approx is the 10^12-row mode).
    * `approx = false` uses exact COUNT(DISTINCT …) — Catalyst plans
    * multi-distinct aggregates via expand (rows × columns intermediate),
    * fine at metrics/test scale and DuckDB-oracle-checkable (q40). */
  def profileColumns(df: DataFrame, cols: Seq[String],
                     approx: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    require(cols.distinct.size == cols.size,
      s"duplicate columns to profile: ${cols.diff(cols.distinct).distinct.mkString(", ")}")
    cols.foreach(c => require(!c.contains("'") && !c.contains("`"),
      s"unsupported column name: $c"))
    val aggs = cols.flatMap { c =>
      Seq(
        (if (approx) approx_count_distinct(col(c)) else countDistinct(col(c)))
          .as(s"__d_$c"),
        // sum() over zero rows is NULL — an empty table must profile as
        // n_nonnull = 0 (the DuckDB count() oracle's answer), not null
        coalesce(sum(col(c).isNotNull.cast("long")), lit(0L)).as(s"__n_$c"))
    } :+ count(lit(1)).as("__rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    // melt the single wide row to one row per column
    val stackArgs = cols.map(c => s"'$c', `__d_$c`, `__n_$c`").mkString(", ")
    one.select(
      expr(s"stack(${cols.size}, $stackArgs) AS (col_name, n_distinct, n_nonnull)"),
      col("__rows").as("n_rows"))
  }
}
