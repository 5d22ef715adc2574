package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** As-of (most-recent-at-or-before) join — the canonical time-series
  * operator Spark has no built-in for.
  *
  * Semantics: every left row picks, within its key group, the right
  * row with the greatest right time <= left time (ties on time: the
  * right row joins the co-timed left row). Left rows with no prior
  * right row keep nulls — left-outer as-of.
  *
  * Spark shape: NOT a range join (O(L·R) nested loop) and NOT a
  * per-row subquery. Union both sides tagged, sort each key group by
  * (time, side), and carry the right side's values forward with
  * last(ignoreNulls) over the preceding-rows frame. One shuffle on the
  * key, one sort — the same cost as a window aggregate, which is what
  * makes it usable at 100 TB (keys distribute; a key group's sort is
  * the inherent lower bound of as-of semantics). DuckDB's native
  * ASOF JOIN is the oracle.
  */
object AsOfJoin {

  /** Tagged union of probe and reference rows — the shared substrate
    * of every direction variant. Left rows carry `__side = 1` and a
    * null payload; right rows carry the payload as ONE struct (an
    * atomic right ROW: per-column carry would skip null payload
    * fields and mix values from different right rows — true as-of,
    * like DuckDB ASOF, must not). Right rows with a null key or null
    * time never match in SQL inequality semantics, but window
    * partitioning GROUPS nulls — so they must not enter the union at
    * all (left rows with null keys then correctly keep nulls).
    */
  private[ops] def taggedUnion(left: DataFrame, right: DataFrame,
      keys: Seq[String], time: String, payload: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "as-of join needs at least one payload column")
    val leftCols = left.columns.toSeq
    require(!leftCols.exists(payload.contains),
      s"payload ${payload.mkString(",")} collides with a left column")
    val pStruct = struct(payload.map(col): _*)
    val pType = right.select(pStruct.as("__p")).schema("__p").dataType
    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(pType))
    val r = right
      .where((keys :+ time).map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__side", lit(0))
      .withColumn("__p", pStruct)
      .select((leftCols.map(c =>
        if (keys.contains(c) || c == time) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) :+
        col("__side") :+ col("__p")): _*)
    l.unionByName(r.select(l.columns.map(col): _*))
  }

  /** Backward window: right rows sort BEFORE left rows at equal time
    * (`__side` 0 < 1) so a co-timed right row is visible to the left
    * row (<= semantics); `last(ignoreNulls)` over the preceding frame
    * picks the latest. `__p` as the final sort key: right rows tied on
    * time are peers otherwise, and last() would pick whichever the
    * shuffle left last — ordering by the payload struct makes the pick
    * (the largest payload tuple) deterministic.
    */
  private def backwardWindow(keys: Seq[String], time: String) =
    Window.partitionBy(keys.map(col): _*)
      // time nulls FIRST explicitly: a null-time left row must see an
      // EMPTY preceding frame (SQL `r.t <= null` is unknown) — head
      // placement guarantees it
      .orderBy(col(time).asc_nulls_first, col("__side").asc,
        col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Forward window: the mirror — the key group sorts by time
    * DESCENDING, and right rows must sort BEFORE left rows at equal
    * time so the co-timed right row lands in the preceding frame (>=
    * semantics); `last(ignoreNulls)` over the preceding frame picks
    * the earliest right time at or after the left row. Ties on time
    * resolve to the largest payload struct (last in `__p` ascending),
    * matching the backward variant's pick. The frame grows from the
    * partition head, so it is evaluated incrementally (one update per
    * row); the equivalent ascending order over a
    * `currentRow..unboundedFollowing` frame recomputes per row, O(n²).
    */
  private def forwardWindow(keys: Seq[String], time: String) =
    Window.partitionBy(keys.map(col): _*)
      // time nulls FIRST in the descending order: a null-time left row
      // must see an EMPTY preceding frame (right rows never carry a
      // null time) instead of the whole partition as spurious forward
      // matches
      .orderBy(col(time).desc_nulls_first, col("__side").asc,
        col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** As-of backward (most-recent-at-or-before) join.
    *
    * @param left      probe side; all its columns are kept
    * @param right     reference side: exactly (keys..., time, payload...)
    * @param keys      equi-join key column names (both sides)
    * @param time      ordering column name (both sides, same type)
    * @param payload   right-side value columns carried to the output
    *                  (null when no right row at-or-before). To also
    *                  receive the matched right row's time (e.g. for a
    *                  tolerance post-filter), alias it into the right
    *                  frame and list it here.
    */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String], time: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    taggedUnion(left, right, keys, time, payload)
      .withColumn("__p", last(col("__p"), ignoreNulls = true)
        .over(backwardWindow(keys, time)))
      .where(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(c => col(s"__p.$c").as(c)): _*)
  }

  /** As-of forward (first-at-or-after) join — same contract as [[asof]]
    * with the direction mirrored: every left row picks, within its key
    * group, the right row with the SMALLEST right time >= left time.
    */
  def asofForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      time: String, payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    taggedUnion(left, right, keys, time, payload)
      .withColumn("__p", last(col("__p"), ignoreNulls = true)
        .over(forwardWindow(keys, time)))
      .where(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(c => col(s"__p.$c").as(c)): _*)
  }

  /** Both directions in ONE pass: every left row gains
    * `bwd_<c>`/`fwd_<c>` for each payload column (null when no match
    * in that direction). The two window functions share the union's
    * key exchange — Catalyst plans one shuffle and two sorts, so the
    * cost over a single-direction as-of is one extra in-partition
    * sort, not a second join. The building block for nearest-match
    * and tolerance semantics (pandas merge_asof's other directions)
    * as plain column arithmetic.
    */
  def asofBoth(left: DataFrame, right: DataFrame, keys: Seq[String],
      time: String, payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    taggedUnion(left, right, keys, time, payload)
      .withColumn("__pb", last(col("__p"), ignoreNulls = true)
        .over(backwardWindow(keys, time)))
      .withColumn("__pf", last(col("__p"), ignoreNulls = true)
        .over(forwardWindow(keys, time)))
      .where(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(c => col(s"__pb.$c").as(s"bwd_$c")) ++
        payload.map(c => col(s"__pf.$c").as(s"fwd_$c")): _*)
  }

  /** The same backward as-of contract as [[asof]], executed by the
    * custom Catalyst operator ([[graft.plans.AsOfJoinPlan]] →
    * [[graft.plans.AsOfJoinExec]]) instead of the union+window
    * formulation: each side shuffles and sorts independently, then a
    * per-partition streaming merge carries ONE candidate row of state
    * — the reference side never rides inside the probe side's sort.
    * Requires the session to carry [[graft.functions.GraftExtensions]]
    * (GraftSession does) and LongType (canonical epoch) time columns.
    * Differential specs pin it row-identical to [[asof]].
    */
  def asofMerged(left: DataFrame, right: DataFrame, keys: Seq[String],
      time: String, payload: Seq[String]): DataFrame = {
    require(payload.nonEmpty, "as-of join needs at least one payload column")
    require(!left.columns.exists(payload.contains),
      s"payload ${payload.mkString(",")} collides with a left column")
    // Re-alias every right-side column the node references (same
    // names, FRESH exprIds): when both frames share lineage — the
    // normal case, e.g. clicks and purchases filtered from one scan —
    // the analyzer's DeduplicateRelations rewrites the conflicting
    // attribute ids inside the right subtree but cannot know to update
    // a custom node's constructor fields, leaving the node pointing at
    // ids the child no longer produces. Fresh aliases are never
    // conflicting, so the rewrite leaves them (and the node) intact.
    val r2 = right.select(
      ((keys :+ time) ++ payload).distinct.map(c => col(c).as(c)): _*)
    val lplan = left.queryExecution.analyzed
    val rplan = r2.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column '$n' not found among ${p.output.map(_.name).mkString(",")}"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(left.sparkSession,
      graft.plans.AsOfJoinPlan(lplan, rplan,
        keys.map(attr(lplan, _)), keys.map(attr(rplan, _)),
        attr(lplan, time), attr(rplan, time), payload.map(attr(rplan, _))))
  }

  /** Nearest-match as-of (pandas merge_asof direction='nearest'):
    * picks whichever direction's match is closer in time; exact ties
    * go BACKWARD (deterministic, matching pandas). Requires a NUMERIC
    * epoch time column (the engine's canonical ns/µs longs) — nearest
    * needs distance arithmetic, which raw timestamps don't give
    * portably. The right time must ride in `payload` under
    * `matchTime` so the distance is computable.
    */
  def asofNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
      time: String, payload: Seq[String], matchTime: String): DataFrame = {
    require(payload.contains(matchTime),
      s"matchTime '$matchTime' must be one of the payload columns")
    val leftCols = left.columns.toSeq
    val both = asofBoth(left, right, keys, time, payload)
    val db = col(time) - col(s"bwd_$matchTime")
    val df = col(s"fwd_$matchTime") - col(time)
    val pickBackward = col(s"bwd_$matchTime").isNotNull &&
      (col(s"fwd_$matchTime").isNull || db <= df)
    both.select(leftCols.map(col) ++
      payload.map(c => when(pickBackward, col(s"bwd_$c"))
        .otherwise(col(s"fwd_$c")).as(c)): _*)
  }
}
