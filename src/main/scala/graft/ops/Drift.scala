package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring — the check a production pipeline
  * runs before trusting a new data drop: has the value distribution
  * moved against the reference corpus? The metric is the Population
  * Stability Index over a FIXED literal bin grid,
  * PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i), the standard
  * train-vs-serving drift score (PSI < 0.1 stable, > 0.25 shifted).
  *
  * The grid is literal (the a8 histogram discipline): a data-dependent
  * grid (quantile bins) would need its own pass AND make the score
  * incomparable across drops — the whole point is a fixed yardstick.
  *
  * Scale: binning is per-row math on each side's scan; the two
  * bin-count aggregations shuffle |bins| rows each and join on the bin
  * id. Nothing holds more than the bin table.
  *
  * Determinism: bin shares are ratios of exact counts (identical
  * doubles in any IEEE engine); the single ln per bin is rounded at
  * 6 dp over |bins| rows — the group-granularity rounding argument
  * (BASELINE x2), not the per-row one. Empty bins on either side gate
  * the contribution to NULL (fail-visible, the [[Expectations]]
  * discipline) rather than fabricating a smoothing constant.
  */
object Drift {

  /** Per-bin PSI decomposition of `valueCol` between `reference` and
    * `current`: bin id, both counts, both shares, and the 6-dp-rounded
    * PSI contribution (NULL where a side is empty). The total PSI is
    * the sum over the output — kept per-bin so the drifted REGION is
    * visible, not only the scalar.
    */
  def psiByBin(reference: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, binWidth: Double, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    def binned(df: DataFrame, out: String): DataFrame = df
      .select(binCol(col(valueCol), lo, binWidth, nBins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(out))
    val spark = reference.sparkSession
    import spark.implicits._
    // dense bin spine: a bin empty on BOTH sides still reports, with
    // zero counts — an all-zero tail is itself a drift signal
    val spine = (0 until nBins).map(_.toLong).toDF("bin")
    val r = binned(reference, "n_ref")
    val c = binned(current, "n_cur")
    val joined = spine
      .join(r, Seq("bin"), "left").join(c, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    psiColumns(joined)
  }

  /** The PSI tail shared by the value-grid ([[psiByBin]]) and
    * categorical ([[psiByCategory]]) decompositions: shares from exact
    * counts, 6-dp ln contribution, empty-side gates to NULL. The
    * window totals run over the |categories|-row frame, not the data.
    */
  private def psiColumns(joined: DataFrame): DataFrame = {
    val totR = sum(col("n_ref")).over()
    val totC = sum(col("n_cur")).over()
    joined
      .withColumn("p_ref", col("n_ref") / totR)
      .withColumn("p_cur", col("n_cur") / totC)
      .withColumn("psi_contrib",
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round((col("p_ref") - col("p_cur")) * log(col("p_ref") / col("p_cur")), 6)))
      .withColumn("p_ref", round(col("p_ref"), 6))
      .withColumn("p_cur", round(col("p_cur"), 6))
  }

  /** Per-CATEGORY PSI decomposition between `reference` and `current`
    * over an EXPLICIT category spine (the a14 shape with a categorical
    * key instead of a value grid): the spine plays the literal-grid
    * role — a fixed yardstick both sides are scored against, with
    * categories empty on both sides still reporting (an all-zero
    * region is itself a signal). Used by a19 with the fitted IVF cells
    * as the categories: drift in EMBEDDING space shows up as occupancy
    * moving between cells long before any scalar statistic moves.
    * Scale: two |categories|-row count aggregations + spine joins;
    * nothing holds more than the category table.
    */
  def psiByCategory(reference: DataFrame, current: DataFrame,
      catCol: String, spine: DataFrame): DataFrame = {
    def counted(df: DataFrame, out: String): DataFrame =
      df.select(col(catCol)).groupBy(catCol).agg(count(lit(1)).as(out))
    val joined = spine.select(col(catCol))
      .join(counted(reference, "n_ref"), Seq(catCol), "left")
      .join(counted(current, "n_cur"), Seq(catCol), "left")
      .select(col(catCol),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    psiColumns(joined)
  }

  /** The literal-grid bin id for `valueCol` — shared by [[psiByBin]]'s
    * batch sides and the streaming monitor's aggregation key, so the
    * two executions bin identically by construction.
    */
  def binCol(valueCol: Column, lo: Double, binWidth: Double, nBins: Int): Column =
    least(greatest(floor((valueCol - lit(lo)) / lit(binWidth)), lit(0)),
      lit(nBins - 1)).cast("long")

  /** Two-sample Kolmogorov–Smirnov drift over the SAME literal bin
    * grid as [[psiByBin]] — the complementary statistic: PSI weights
    * per-bin share movement (a localized shift dilutes across the
    * log-ratio sum), KS is the max CDF gap (exactly the localized-
    * shift detector, blind to symmetric reshuffles PSI catches). Run
    * both; they disagree on purpose.
    *
    * Integer-exact to the final micro DIV: the per-bin CDF gap is
    * computed in COUNT CROSS PRODUCTS — |cumA·nB − cumB·nA| — never a
    * float fraction, so the statistic AND its argmax bin replay
    * bit-for-bit on any engine/partitioning.
    *   ks_micro = (max gap · 1e6) DIV (nA·nB), ks_bin = lowest bin
    * achieving it. Envelope: cumA·nB ≤ nA·nB must stay under
    * 2^63/1e6 ≈ 9.2e12 ⇒ ~3e6 rows per side balanced — pre-aggregate
    * to bin counts per shard and sum beyond (the counts frame is
    * |bins| rows; only the TOTALS enter the product).
    *
    * Shape at 100 TB: one binned count aggregation per side (map-side
    * partials, |bins| rows out), a |bins|-row spine join, one
    * cumulative window over the bin table — nothing after the scans
    * exceeds the grid, exactly the a14 envelope.
    */
  def ksByBin(a: DataFrame, b: DataFrame, valueCol: String,
      lo: Double, binWidth: Double, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    def binned(df: DataFrame, out: String): DataFrame = df
      .select(binCol(col(valueCol), lo, binWidth, nBins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(out))
    val spark = a.sparkSession
    import spark.implicits._
    val spine = (0 until nBins).map(_.toLong).toDF("bin")
    // Partition-less windows (`w` and the two totals), bounded: they see
    // exactly nBins rows — the spine above, which the left joins keep
    // one row per bin because each `binned` side is grouped by bin.
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(binned(a, "n_a"), Seq("bin"), "left")
      .join(binned(b, "n_b"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("cum_a", sum(col("n_a")).over(w))
      .withColumn("cum_b", sum(col("n_b")).over(w))
      .withColumn("tot_a", sum(col("n_a")).over())
      .withColumn("tot_b", sum(col("n_b")).over())
      .withColumn("gap",
        abs(col("cum_a") * col("tot_b") - col("cum_b") * col("tot_a")))
  }

  /** The KS scalar off [[ksByBin]]'s per-bin frame: one row —
    * (n_a, n_b, ks_bin, ks_micro) with the lowest-bin tie-break on
    * the argmax and NULL ks when either side is empty (the
    * [[Expectations]] fail-visible gate, never a fabricated 0).
    */
  def ksStat(perBin: DataFrame): DataFrame =
    perBin.agg(
      max(col("tot_a")).as("n_a"), max(col("tot_b")).as("n_b"),
      max(struct(col("gap"), (-col("bin")).as("nb"))).as("__m"))
      .select(col("n_a"), col("n_b"),
        (-col("__m.nb")).cast("long").as("ks_bin"),
        when(col("n_a") > 0 && col("n_b") > 0,
          // gap <= n_a*n_b, so guarding the product guards the 1e6
          // lift — loud past the documented 9.2e12 envelope instead of
          // silently wrapping (double compare: slack is fine for a guard)
          when(col("n_a").cast("double") * col("n_b").cast("double") >= 9.2e12,
            raise_error(lit("ksStat: n_a*n_b exceeds the exact 1e6-lift " +
              "envelope (9.2e12) — pre-aggregate per shard and sum bin counts"))
              .cast("long"))
            .otherwise(expr("(__m.gap * 1000000) DIV (n_a * n_b)")))
          .otherwise(lit(null).cast("long")).as("ks_micro"))

  /** Total-variation distance off [[ksByBin]]'s per-bin frame — the
    * drift battery's MASS metric over the same grid: PSI weighs
    * per-bin log-ratio movement (dilutes a localized shift), KS is
    * the max CDF gap (blind to how much total mass moved), TVD is
    * half the L1 gap — the total probability mass that must move to
    * turn one distribution into the other, which is the number a
    * mixture-rebalance decision actually budgets by. One row:
    * (n_a, n_b, tvd_micro), NULL when a side is empty (the
    * fail-visible gate). Integer-exact to the final DIV:
    *   tvd_micro = (Σ_b |n_a·totB − n_b·totA| · 1e6) DIV (2·totA·totB)
    * — count cross products only, bit-replayable on any engine and
    * partitioning. The L1 sum is ≤ 2·totA·totB, so the ×1e6 lift is
    * GUARDED at totA·totB < 4.6e12 (raise_error, the ksStat
    * convention) — pre-aggregate bin counts per shard and sum beyond.
    */
  def tvdStat(perBin: DataFrame): DataFrame =
    perBin.agg(
      max(col("tot_a")).as("n_a"), max(col("tot_b")).as("n_b"),
      sum(abs(col("n_a") * col("tot_b") - col("n_b") * col("tot_a"))).as("__l1"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          when(col("n_a").cast("double") * col("n_b").cast("double") >= 4.6e12,
            raise_error(lit("tvdStat: n_a*n_b exceeds the exact 1e6-lift " +
              "envelope (4.6e12) — pre-aggregate per shard and sum bin counts"))
              .cast("long"))
            .otherwise(expr("(__l1 * 1000000) DIV (2 * n_a * n_b)")))
          .otherwise(lit(null).cast("long")).as("tvd_micro"))

  /** Per-window TVD against a reference COUNT frame — [[tvdStat]] in
    * the monitor shape of [[ksAgainstReference]]: same
    * (windowCol, bin, n_cur) drained-state input, same [0, nBins)
    * loud bin-range guard, same |windows| × nBins spine so reference
    * mass with zero current events still enters the L1 sum. Emits ONE
    * row per window: (windowCol, n_ref, n_cur, tvd_micro). The three
    * monitors (PSI, KS, TVD) run off ONE state-store shape — a
    * deployment keeps one per-(window, bin) count state and fans the
    * drained frame into all three post-passes.
    */
  def tvdAgainstReference(current: DataFrame, refCounts: DataFrame,
      nBins: Int, windowCol: String = "win_start"): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val spark = current.sparkSession
    import spark.implicits._
    val bins = (0 until nBins).map(_.toLong).toDF("bin")
    val spine = current.select(col(windowCol)).distinct()
      .crossJoin(broadcast(bins))
    val wAll = Window.partitionBy(col(windowCol))
    val curChecked = current.select(col(windowCol),
      when(col("bin") < 0L || col("bin") >= nBins.toLong,
        raise_error(concat(
          lit(s"tvdAgainstReference: bin out of [0, $nBins) — got "),
          col("bin").cast("string"),
          lit(" (clamp with Drift.binCol before the monitor)"))).cast("long"))
        .otherwise(col("bin")).as("bin"),
      col("n_cur"))
    spine
      .join(curChecked, Seq(windowCol, "bin"), "left")
      .join(broadcast(refCounts), Seq("bin"), "left")
      .select(col(windowCol), col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("tot_r", sum(col("n_ref")).over(wAll))
      .withColumn("tot_c", sum(col("n_cur")).over(wAll))
      .groupBy(col(windowCol))
      .agg(max(col("tot_r")).as("n_ref"), max(col("tot_c")).as("n_cur"),
        sum(abs(col("n_cur") * col("tot_r") - col("n_ref") * col("tot_c")))
          .as("__l1"))
      .select(col(windowCol), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          when(col("n_ref").cast("double") * col("n_cur").cast("double") >= 4.6e12,
            raise_error(lit("tvdAgainstReference: n_ref*n_cur exceeds the " +
              "exact 1e6-lift envelope (4.6e12) in a window — pre-aggregate " +
              "per shard and sum bin counts")).cast("long"))
            .otherwise(expr("(__l1 * 1000000) DIV (2 * n_ref * n_cur)")))
          .otherwise(lit(null).cast("long")).as("tvd_micro"))
  }

  /** Mann–Whitney rank-sum two-sample test — the EXACT member of the
    * drift-test family ([[psiByBin]] weighs share movement on a grid,
    * [[ksByBin]] the max binned CDF gap; this tests location shift on
    * the raw values, no grid at all): did the new drop's values move
    * up or down against the reference, rank-wise? Per group emits the
    * integer statistic u2_a = 2·U_A (ranks are tie-averaged multiples
    * of ½, so doubling clears the halves — the p72 discipline; their
    * sum is exact in doubles to 2^52), the common-language effect
    * size effect_micro = (u2_a·10⁶) DIV (2·n_a·n_b) — which is
    * exactly the AUC of "is in sample A" against the value — the
    * tie term ΣT = Σ(t³−t), and the tie-corrected normal
    * approximation z (6 dp; the one non-integer site, computed from
    * exactly-representable integer inputs in a fixed operation order
    * so both engines evaluate the identical IEEE expression). Gates:
    * an empty side NULLs everything derived; zero variance (all
    * values tied) NULLs z. NULL values are excluded by construction —
    * a NULL carries no rank information and engines disagree on where
    * to sort it (Spark NULLS FIRST vs ANSI-default NULLS LAST), so
    * both sides drop them before pooling; n_a/n_b count non-null
    * observations only.
    *
    * Exactness (round 12): the doubled rank sum is computed entirely
    * in LONG arithmetic off per-(group, value) counts — the doubled
    * fractional rank of value v is 2·below(v) + t(v) + 1, an exact
    * integer — so the sum Σ a_v·(2·below+t+1) ≤ n·(2n+1) is order-free
    * and exact for any group under ~2.1e9 rows (the old float rank-sum
    * went partitioning-order-dependent past ~9.5e7 pooled rows, since
    * the running double sum grows ~n² toward 2^53). The remaining
    * envelopes are GUARDED loud, not comment-only: the tie term and
    * the u2_a·1e6 lift both raise_error past their long bounds
    * (t < 2e6 per tied value AND Σ(t³−t) < 8e18 on the aggregate — a
    * single near-threshold value contributes ~8e18, so the SUM can
    * wrap where every term is individually legal; a double shadow sum
    * that cannot wrap arms the aggregate guard; n_a·n_b < 4.6e12)
    * instead of silently wrapping — shard the group key beyond.
    *
    * Shape at 100 TB: one pooled scan to per-(group, value) counts
    * with map-side partials, one cumulative window over the counts
    * frame (|groups|×|distinct values| rows — the [[ksByBin]] shape;
    * NOT the old data-scale rank sort: this sorts distinct values,
    * not observations), then a |groups|-row aggregation. No join —
    * the tie term rides the same pass.
    */
  def mannWhitney(a: DataFrame, b: DataFrame, valueCol: String,
      group: String): DataFrame = {
    val pooled = a.select(col(group), col(valueCol).as("__v"), lit(1L).as("__a"))
      .unionByName(
        b.select(col(group), col(valueCol).as("__v"), lit(0L).as("__a")))
      .where(col("__v").isNotNull)
    val counts = pooled.groupBy(col(group), col("__v"))
      .agg(count(lit(1)).as("__t"), sum(col("__a")).as("__ta"))
    val cum = Window.partitionBy(col(group)).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // per tied value: t^3 wraps long at t >= ~2.1e6 — fail loud first
    val tieCube = when(col("__t") >= 2000000L,
      raise_error(concat(
        lit("mannWhitney: tie group of "), col("__t").cast("string"),
        lit(" rows at one value in group "), col(group).cast("string"),
        lit(" exceeds the exact tie-term envelope (t < 2e6) — shard the group key")))
        .cast("long"))
      .otherwise(col("__t") * col("__t") * col("__t") - col("__t"))
    val agg = counts
      .withColumn("__below", coalesce(sum(col("__t")).over(cum), lit(0L)))
      .groupBy(col(group))
      .agg(sum(col("__ta")).as("n_a"),
        sum(col("__t") - col("__ta")).as("n_b"),
        // doubled rank sum of side A, exact in longs: the doubled
        // fractional rank of value v is 2*below(v) + t(v) + 1, so
        // r2a = sum over values of a_v * (2*below_v + t_v + 1)
        sum(col("__ta") * (lit(2L) * col("__below") + col("__t") + lit(1L)))
          .as("__r2a"),
        sum(tieCube).as("tie_term"),
        // double SHADOW of the same sum: the per-value guard bounds each
        // term under ~8e18, so two near-threshold tied values already
        // wrap the long sum past 2^63 — silently, since ANSI is off.
        // The shadow never wraps (double range is ~1.8e308) and its
        // relative error (~n·2^-52) is orders below the guard margin.
        sum(tieCube.cast("double")).as("__tie_d"))
      .withColumn("tie_term",
        when(col("__tie_d") >= 8.0e18,
          raise_error(concat(
            lit("mannWhitney: aggregated tie term in group "),
            col(group).cast("string"),
            lit(" exceeds the exact long envelope (sum(t^3 - t) < 8e18)"),
            lit(" - shard the group key"))).cast("long"))
          .otherwise(col("tie_term")))
    val nn = (col("n_a") + col("n_b")).cast("double")
    val sig2 = col("n_a").cast("double") * col("n_b").cast("double") / 12.0 *
      (nn + 1.0 - col("tie_term").cast("double") / (nn * (nn - 1.0)))
    // u2_a <= 2*n_a*n_b, so guarding the product guards the micro
    // lift; the compare runs in doubles (slack is fine for a guard —
    // the aucBootstrapCi convention)
    val effectLifted = when(
      col("n_a").cast("double") * col("n_b").cast("double") >= 4.6e12,
      raise_error(concat(
        lit("mannWhitney: n_a*n_b exceeds the exact 1e6-lift envelope in group "),
        col(group).cast("string"), lit(" — shard the group key"))).cast("long"))
      .otherwise(expr("(u2_a * 1000000) DIV (2 * n_a * n_b)"))
    agg
      .withColumn("u2_a",
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__r2a") - col("n_a") * (col("n_a") + 1L))
          .otherwise(lit(null).cast("long")))
      .withColumn("effect_micro",
        when(col("n_a") > 0 && col("n_b") > 0, effectLifted)
          .otherwise(lit(null).cast("long")))
      .withColumn("z",
        when(col("n_a") > 0 && col("n_b") > 0 && nn > 1.0 && sig2 > 0.0,
          round((col("u2_a") - col("n_a") * col("n_b")).cast("double") /
            (lit(2.0) * sqrt(sig2)), 6))
          .otherwise(lit(null).cast("double")))
      .select(col(group), col("n_a"), col("n_b"), col("u2_a"),
        col("tie_term"), col("effect_micro"), col("z"))
  }

  /** Reference distribution as (bin, p_ref) over the OBSERVED bins —
    * the broadcastable yardstick a monitor scores incoming windows
    * against. Shares are ratios of exact counts (identical doubles in
    * any IEEE engine).
    */
  def binShares(df: DataFrame, valueCol: String, lo: Double, binWidth: Double,
      nBins: Int): DataFrame =
    df.select(binCol(col(valueCol), lo, binWidth, nBins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_ref"))
      .withColumn("p_ref", col("n_ref") / sum(col("n_ref")).over())
      .select("bin", "p_ref")

  /** Per-window two-sample KS against a reference COUNT frame — the
    * [[ksByBin]]/[[ksStat]] statistic in the monitor shape
    * [[psiAgainstReference]] gives PSI: `current` is the drained
    * per-(window, bin) count state of a streaming aggregation,
    * `refCounts` the batch-fitted (bin, n_ref) yardstick (counts, not
    * shares — KS's integer cross-product form needs the exact counts).
    * Emits ONE row per window: (windowCol, n_ref, n_cur, ks_bin,
    * ks_micro), lowest-bin argmax tie-break, NULL ks when a side is
    * empty — bit-identical to running [[ksStat]] per window, proven by
    * the x32/a20 twin relationship.
    *
    * Shape: the dense frame is |windows| × nBins rows (monitor-state
    * scale, never data scale); both cumulative windows and the final
    * argmax run over that frame; the reference broadcasts. Envelope:
    * per-window n_ref·n_cur < 9.2e12 (the ksByBin bound).
    */
  def ksAgainstReference(current: DataFrame, refCounts: DataFrame,
      nBins: Int, windowCol: String = "win_start"): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val spark = current.sparkSession
    import spark.implicits._
    val bins = (0 until nBins).map(_.toLong).toDF("bin")
    val spine = current.select(col(windowCol)).distinct()
      .crossJoin(broadcast(bins))
    val w = Window.partitionBy(col(windowCol)).orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(windowCol))
    // the spine LEFT join would silently DROP any current row whose
    // bin falls outside [0, nBins) — skewing both the cumulative sums
    // and tot_c with no error (safe for a clamped binCol feed, a
    // footgun for any other caller) — so out-of-range bins fail loud
    // before the join instead
    val curChecked = current.select(col(windowCol),
      when(col("bin") < 0L || col("bin") >= nBins.toLong,
        raise_error(concat(
          lit(s"ksAgainstReference: bin out of [0, $nBins) — got "),
          col("bin").cast("string"),
          lit(" (clamp with Drift.binCol before the monitor)"))).cast("long"))
        .otherwise(col("bin")).as("bin"),
      col("n_cur"))
    spine
      .join(curChecked, Seq(windowCol, "bin"), "left")
      .join(broadcast(refCounts), Seq("bin"), "left")
      .select(col(windowCol), col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("cum_r", sum(col("n_ref")).over(w))
      .withColumn("cum_c", sum(col("n_cur")).over(w))
      .withColumn("tot_r", sum(col("n_ref")).over(wAll))
      .withColumn("tot_c", sum(col("n_cur")).over(wAll))
      .withColumn("gap",
        abs(col("cum_r") * col("tot_c") - col("cum_c") * col("tot_r")))
      .groupBy(col(windowCol))
      .agg(max(col("tot_r")).as("n_ref"), max(col("tot_c")).as("n_cur"),
        max(struct(col("gap"), (-col("bin")).as("nb"))).as("__m"))
      .select(col(windowCol), col("n_ref"), col("n_cur"),
        (-col("__m.nb")).cast("long").as("ks_bin"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          // the ksStat envelope, per window — loud, not comment-only
          when(col("n_ref").cast("double") * col("n_cur").cast("double") >= 9.2e12,
            raise_error(lit("ksAgainstReference: n_ref*n_cur exceeds the " +
              "exact 1e6-lift envelope (9.2e12) in a window — pre-aggregate " +
              "per shard and sum bin counts")).cast("long"))
            .otherwise(expr("(__m.gap * 1000000) DIV (n_ref * n_cur)")))
          .otherwise(lit(null).cast("long")).as("ks_micro"))
  }

  /** Scores per-window bin counts (`windowCol`, `bin`, `n_cur`)
    * against a [[binShares]] reference: per-window shares from a
    * window over the small count frame, reference broadcast, PSI
    * contribution rounded at 6 dp. BOTH asymmetric drift modes gate to
    * NULL instead of vanishing (the [[psiByBin]] fail-visible
    * discipline):
    *
    *  - a bin absent from the reference (novel mass) keeps its
    *    observed row with NULL psi_contrib;
    *  - a reference bin with ZERO current events in a window
    *    (vanished mass — the severe drift mode a plain join would
    *    silently drop) is materialized from a windows × reference-bins
    *    spine with n_cur = 0 and NULL psi_contrib.
    *
    * The spine is |windows| × |reference bins| rows — monitor-state
    * scale, never data scale.
    */
  def psiAgainstReference(current: DataFrame, refShares: DataFrame,
      windowCol: String = "win_start"): DataFrame = {
    val w = Window.partitionBy(col(windowCol))
    val spine = current.select(col(windowCol)).distinct()
      .crossJoin(broadcast(refShares.select(col("bin"))))
    current
      .join(spine, Seq(windowCol, "bin"), "full_outer")
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
      .withColumn("__tw", sum(col("n_cur")).over(w))
      .join(broadcast(refShares), Seq("bin"), "left")
      .withColumn("p_cur", col("n_cur") / col("__tw"))
      .withColumn("psi_contrib",
        when(col("p_ref").isNotNull && col("n_cur") > 0,
          round((col("p_ref") - col("p_cur")) * log(col("p_ref") / col("p_cur")), 6)))
      .select(col(windowCol), col("bin"), col("n_cur"), col("psi_contrib"))
  }
}
