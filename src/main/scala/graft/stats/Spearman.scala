package graft.stats

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** All-pairs Spearman rank correlation over long-form data.
  *
  * Reference semantics (src/etl_for_all_studies/correlation.py:95-162):
  * for every unordered pair of items (genes) within a family (study),
  * intersect their sample sets, fractional-rank each value vector over
  * the *shared* samples, and compute Pearson correlation of the ranks.
  * Pairs are canonicalized `item_a < item_b`; pairs with fewer than
  * `minSamples` shared samples or a constant value vector are dropped
  * (correlation.py:115-135).
  *
  * Two production plans, both a self-join on (family, sample) with
  * `item_a < item_b` (J5/J6, [[pairJoin]]) feeding one per-pair
  * aggregate and the shared `gate`:
  *   - [[pairCorrelations]], the exact semantics on any matrix: the
  *     [[graft.functions.SpearmanStat]] typed aggregate ranks each
  *     pair over its shared samples;
  *   - [[pairCorrelationsDense]], for complete matrices: ranks once per
  *     item, then a declarative `corr` over the carried ranks.
  * The caller picks per family from the data's shape
  * (`CorrelationJob` takes the dense plan exactly for the studies
  * whose fact count is genes × samples). [[pairCorrelationsWindowed]]
  * is the independent test oracle for the exact plan.
  *
  * Scale notes: the pair join explodes to P·n rows (P = pairs, n =
  * shared samples), the inherent size of the per-pair computation;
  * it is never materialized, only partial-aggregated. With the
  * reference's whitelist (~120 genes ⇒ 7,140 pairs) and 50k samples
  * that is ~3.6e8 rows per study. At the unfiltered 20k-gene envelope
  * every sample's I item rows meet in one join group; a blocked pair
  * enumeration that bounds that state was measured (BASELINE.md
  * Round 5: parity at best locally) and removed until a workload
  * needs it.
  */
object Spearman {

  /** The reference's pair filter over per-pair `n_samples`, `rho` and
    * the value ranges `__mina`..`__maxb`: enough shared samples, no
    * constant vector, a defined `rho`. Drops the range columns.
    */
  private def gate(pairs: DataFrame, minSamples: Int): DataFrame =
    pairs
      .where(col("n_samples") >= minSamples &&
        col("__mina") < col("__maxa") && col("__minb") < col("__maxb") &&
        !isnan(col("rho")) && col("rho").isNotNull)
      .drop("__mina", "__maxa", "__minb", "__maxb")

  /** Pearson `corr` of the pair's rank columns `__ra`/`__rb`, gated. */
  private def gatedPairAgg(joined: DataFrame, family: Seq[String],
      minSamples: Int): DataFrame = {
    val pairKeys = family.map(col) ++ Seq(col("item_a"), col("item_b"))
    gate(joined
      .groupBy(pairKeys: _*)
      .agg(
        count(lit(1)).as("n_samples"),
        corr(col("__ra"), col("__rb")).as("rho"),
        min(col("__va")).as("__mina"), max(col("__va")).as("__maxa"),
        min(col("__vb")).as("__minb"), max(col("__vb")).as("__maxb")),
      minSamples)
  }

  /** Self-join of long-form rows on (family, sample) with item_a <
    * item_b. Output: family..., `item_a`, `__va`, `item_b`, `__vb`, and
    * with `rank` set, that column carried per side as `__ra`/`__rb`.
    * Side-b columns arrive renamed, so there is no ambiguity.
    */
  private def pairJoin(df: DataFrame, family: Seq[String], item: String,
      sample: String, value: String, rank: Option[String]): DataFrame = {
    val base = Seq(item, sample, value) ++ rank.toSeq
    val aCols = family ++ base
    // Materialize the shared subtree ONCE (eager localCheckpoint), then
    // self-join two aliases over the checkpointed data. Relying on AQE
    // ReuseExchange instead is nondeterministic here: the two join
    // children submit as concurrent stages and race to compute the
    // uncached lineage — measured at sf0.1, the rank-window stage ran
    // TWICE in ~half of runs. The checkpoint pins cost at O(rows)
    // storage — the ranked long-form table, the small side of the
    // pair computation (the join OUTPUT is the P·n blow-up, and that
    // is never materialized). Cluster trade: localCheckpoint truncates
    // lineage into executor-local blocks — an executor lost mid-query
    // fails the job instead of recomputing; swap for df.checkpoint()
    // (reliable storage) on preemptible clusters.
    val pre = df.select(aCols.map(col): _*)
      .repartition((family :+ sample).map(col): _*)
      .localCheckpoint(true)
    val cond = (family.map(k => col(s"a.$k") === col(s"b.$k")) :+
      (col(s"a.$sample") === col(s"b.$sample")) :+
      (col(s"a.$item") < col(s"b.$item"))).reduce(_ && _)
    val aSide = (family :+ sample).map(k => col(s"a.$k")) ++
      (Seq(col(s"a.$item").as("item_a"), col(s"a.$value").as("__va")) ++
        rank.map(r => col(s"a.$r").as("__ra")))
    val bSide = Seq(col(s"b.$item").as("item_b"), col(s"b.$value").as("__vb")) ++
      rank.map(r => col(s"b.$r").as("__rb"))
    pre.as("a").join(pre.as("b"), cond)
      .select(aSide ++ bSide: _*)
      .drop(sample)
  }

  /** Exact per-pair Spearman (ranks over the shared-sample
    * intersection, matching the reference on incomplete matrices).
    *
    * Input: long-form rows (family..., item, sample, value).
    * Output: (family..., item_a, item_b, n_samples, rho) — gated.
    *
    * Plan: pair self-join, then ONE aggregation pass with the
    * [[graft.functions.SpearmanStat]] typed aggregate — the P·n-row
    * join output partial-aggregates map-side into compact per-pair
    * (va, vb) primitive buffers, so the only exchange carries ~16
    * bytes/sample with the pair key stored once per map partition, and
    * ranking happens per-pair at merge completion (two primitive-array
    * sorts + rank binary searches). Replaces the previous two
    * per-pair fractional-rank windows + `corr`, which shuffled and
    * sorted all P·n ranked rows (measured 2×35.7 M-row sorts on the
    * 4-study scale fixture). [[pairCorrelationsWindowed]] keeps that
    * plan for the equality-pinning spec.
    */
  def pairCorrelations(
      df: DataFrame,
      family: Seq[String],
      item: String,
      sample: String,
      value: String,
      minSamples: Int = 2): DataFrame = {
    val joined = pairJoin(df, family, item, sample, value, rank = None)
    val pairKeys = family.map(col) ++ Seq(col("item_a"), col("item_b"))
    gate(joined
      .groupBy(pairKeys: _*)
      .agg(graft.functions.SpearmanStatFn(col("__va"), col("__vb")).as("__s"))
      .select((pairKeys ++ Seq(
        col("__s.n_samples").as("n_samples"), col("__s.rho").as("rho"),
        col("__s.min_a").as("__mina"), col("__s.max_a").as("__maxa"),
        col("__s.min_b").as("__minb"), col("__s.max_b").as("__maxb"))): _*),
      minSamples)
  }

  /** The pre-round-3 exact plan (two per-pair rank windows + `corr`
    * over the P·n join output) — retained as the independent
    * formulation that pins [[pairCorrelations]]'s typed-aggregate plan
    * in StatsSpec. Not used by any job path.
    */
  private[graft] def pairCorrelationsWindowed(
      df: DataFrame,
      family: Seq[String],
      item: String,
      sample: String,
      value: String,
      minSamples: Int = 2): DataFrame = {
    val joined = pairJoin(df, family, item, sample, value, rank = None)
    val pairKeys = family.map(col) ++ Seq(col("item_a"), col("item_b"))
    val ranked = Ranks.fractionalRank(
      Ranks.fractionalRank(joined, pairKeys, col("__va"), "__ra"),
      pairKeys, col("__vb"), "__rb")
    gatedPairAgg(ranked, family, minSamples)
  }

  /** Plan for complete matrices (every item observed on every sample
    * of its family — the common genomic case): ranks are computed ONCE
    * per (family, item) instead of once per pair, then the ranked rows
    * pair up through [[pairJoin]]'s self-join over one checkpointed
    * subtree. Identical output to [[pairCorrelations]] on complete
    * matrices: with nothing missing, ranks over the shared samples
    * equal the global per-item ranks (pinned by StatsSpec). On an
    * incomplete matrix it pairs over the shared samples with the
    * global ranks, which is not the reference's semantics.
    *
    * Cost model: O(I·n log n) window work + a P·n-row join output
    * (P = item pairs) feeding the gated aggregate.
    */
  def pairCorrelationsDense(
      df: DataFrame,
      family: Seq[String],
      item: String,
      sample: String,
      value: String,
      minSamples: Int = 2): DataFrame = {
    val itemKeys = family.map(col) :+ col(item)
    val ranked = Ranks.fractionalRank(df, itemKeys, col(value), "__r0")
    val joined = pairJoin(ranked, family, item, sample, value, rank = Some("__r0"))
    gatedPairAgg(joined, family, minSamples)
  }
}
