package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Reciprocal-rank fusion (Cormack et al. 2009) over per-document
  * selection signals — the ensemble layer of data selection: when a
  * pipeline has SEVERAL rankers (a quality heuristic, a DSIR
  * importance score, a trained classifier), fusing their RANKS is
  * more robust than averaging their incomparable scores, and RRF is
  * the standard rank fuser: fused(d) = Σ_lists 1/(K + rank_d).
  *
  * Scale discipline — NO global row_number over the corpus (a
  * partition-less window is the classic scale-killer): each signal
  * contributes only its top-L, fetched with orderBy().limit(L) —
  * Spark plans TakeOrderedAndProject, a per-partition heap + driver
  * merge, never a global sort. Ranks are then row_numbers over the
  * L-bounded lists (tiny, driver-scale), the fuse is a full outer
  * join of lists of L rows, and the output is the fused top-N. A doc
  * outside a list's top-L contributes 0 from that list — the
  * standard top-L RRF truncation, stated in the contract rather than
  * hidden.
  *
  * Exactness: contributions live on the integer micro grid via
  * truncating division (1e6 DIV (K + rank)) — bit-replayable;
  * missing ranks surface as the -1 sentinel, never null.
  */
object Rrf {

  /** Fuse ranked lists given as (name, frame ordered-by-desc-score
    * columns): each frame must expose (id, score) where HIGHER score
    * = better; ties break on ascending id. Returns the fused top-N:
    * (id, <name>_rank columns with -1 for absent, rrf_micro, rank).
    */
  def fuseTopN(lists: Seq[(String, DataFrame)], n: Int, topL: Int = 200,
      rrfK: Int = 60, id: String = "doc_id"): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    // n may exceed topL: the fused pool is the UNION of the L-bounded
    // lists (up to lists.size * topL candidates)
    require(n >= 1 && topL >= 1, s"need n >= 1 and topL >= 1, got n=$n topL=$topL")
    val ranked = lists.map { case (name, df) =>
      // top-L per signal: TakeOrdered (heap + merge), never a global
      // sort. Partition-less window, bounded: it sees at most topL rows,
      // enforced by the `limit(topL)` on the line below.
      val top = df.orderBy(col("score").desc, col(id).asc).limit(topL)
      val w = Window.orderBy(col("score").desc, col(id).asc)
      name -> top.withColumn(s"${name}_rank", row_number().over(w).cast("long"))
        .select(col(id), col(s"${name}_rank"))
    }
    val joined = ranked.map(_._2).reduce((a, b) => a.join(b, Seq(id), "full_outer"))
    val contrib = ranked.map { case (name, _) =>
      when(col(s"${name}_rank").isNotNull,
        expr(s"1000000 DIV (${rrfK} + ${name}_rank)")).otherwise(0L)
    }.reduce(_ + _)
    val filled = ranked.foldLeft(joined.withColumn("rrf_micro", contrib)) {
      case (df, (name, _)) =>
        df.withColumn(s"${name}_rank", coalesce(col(s"${name}_rank"), lit(-1L)))
    }
    // Partition-less window, bounded: it sees at most n rows, enforced
    // by the `limit(n)` it runs after.
    val wOut = Window.orderBy(col("rrf_micro").desc, col(id).asc)
    filled.orderBy(col("rrf_micro").desc, col(id).asc).limit(n)
      .withColumn("rank", row_number().over(wOut).cast("long"))
  }
}
