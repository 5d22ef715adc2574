package graft.stats

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Benjamini–Hochberg FDR correction as pure window functions.
  *
  * Reference semantics (src/etl_for_all_studies/correlation.py:68-92):
  * within one family (study), over the VALID p-values only (non-null,
  * non-NaN): m = count; sort ascending; q_i = min_{j >= i}(p_j * m / j),
  * clamped to <= 1. Rows with invalid p keep a null q. Ties in p get
  * identical q because the running min from the worst p dominates.
  *
  * Spark shape (SURVEY.md §2.6 C5): the family count, the ascending
  * rank `__i` (nulls last) and the suffix min, all partitioned by the
  * family, so Catalyst plans a single shuffle. The suffix min is the
  * reference's reversed running min: a running min over p DESCENDING,
  * framed `unboundedPreceding..currentRow`. A growing frame is
  * evaluated incrementally, one update per row, so the family costs
  * its O(m log m) sort; the mirror frame `currentRow..unboundedFollowing`
  * would recompute the aggregate per row, O(m²). The frame is RANGE,
  * so tied p values are peers: a tie group's frame holds the whole
  * group, whose largest `__i` gives the smallest `__raw` — ties keep
  * identical q. Invalid p (sorted first) have a null `__raw`, which
  * `min` ignores. Family cardinality (pairs per study) bounds the
  * window partition; at 100 TB the families themselves distribute
  * across executors.
  */
object BenjaminiHochberg {

  /** Adds column `out` with BH-adjusted q-values of `p` within each
    * family. Invalid p (null/NaN) ⇒ null q.
    */
  def qValues(df: DataFrame, family: Seq[Column], p: Column, out: String): DataFrame = {
    val valid = p.isNotNull && !isnan(p)
    val fam = Window.partitionBy(family: _*)
    val byP = fam.orderBy(p.asc_nulls_last)
    val fromWorst = fam.orderBy(p.desc_nulls_first)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__m", sum(when(valid, 1L).otherwise(0L)).over(fam))
      .withColumn("__i", row_number().over(byP))
      .withColumn("__raw",
        when(valid, p * col("__m").cast("double") / col("__i").cast("double")))
      .withColumn(out, when(valid, least(min(col("__raw")).over(fromWorst), lit(1.0))))
      .drop("__m", "__i", "__raw")
  }
}
