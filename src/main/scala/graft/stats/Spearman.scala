package graft.stats

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

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
  * Spark shape (SURVEY.md §2.6): equi+theta self-join on (family,
  * sample) with `item_a < item_b` (J5/J6), two fractional-rank windows
  * partitioned by (family, pair), then `corr` aggregate (C1/C2/A4). All
  * built-in operators — ranks and corr are codegen'd, the join and the
  * windows shuffle on their natural keys. Side-b columns are physically
  * renamed before the self-join (no ambiguous self-references).
  *
  * Scale notes: the pair join shuffles on (family, sample) and explodes
  * to P·n rows (P = pairs, n = shared samples) — the inherent size of
  * the per-pair rank computation. The windows and the final aggregate
  * share (family, item_a, item_b) partitioning, so Catalyst plans ONE
  * shuffle for rank+corr. With the reference's whitelist (~120 genes ⇒
  * 7,140 pairs) and 50k samples this is ~3.6e8 rows per study —
  * comfortably distributed. For unfiltered 20k-gene matrices, use
  * [[pairCorrelationsDense]] which ranks once per item (not per pair)
  * so the window work is O(I·n) instead of O(I²·n).
  */
object Spearman {

  private def gatedPairAgg(joined: DataFrame, family: Seq[String], minSamples: Int,
      ra: Column, rb: Column): DataFrame = {
    val pairKeys = family.map(col) ++ Seq(col("item_a"), col("item_b"))
    joined
      .groupBy(pairKeys: _*)
      .agg(
        count(lit(1)).as("n_samples"),
        corr(ra, rb).as("rho"),
        min(col("__va")).as("__mina"), max(col("__va")).as("__maxa"),
        min(col("__vb")).as("__minb"), max(col("__vb")).as("__maxb"))
      .where(col("n_samples") >= minSamples &&
        col("__mina") < col("__maxa") && col("__minb") < col("__maxb") &&
        !isnan(col("rho")) && col("rho").isNotNull)
      .drop("__mina", "__maxa", "__minb", "__maxb")
  }

  /** Self-join of long-form rows on (family, sample) with item_a <
    * item_b; side-b columns arrive renamed so there is no ambiguity.
    * `extraA`/`extraB` name additional (already side-suffixed) columns
    * to carry through.
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
    joined
      .groupBy(pairKeys: _*)
      .agg(graft.functions.SpearmanStatFn(col("__va"), col("__vb")).as("__s"))
      .select((pairKeys ++ Seq(
        col("__s.n_samples").as("n_samples"), col("__s.rho").as("rho"),
        col("__s.min_a").as("__mina"), col("__s.max_a").as("__maxa"),
        col("__s.min_b").as("__minb"), col("__s.max_b").as("__maxb"))): _*)
      .where(col("n_samples") >= minSamples &&
        col("__mina") < col("__maxa") && col("__minb") < col("__maxb") &&
        !isnan(col("rho")) && col("rho").isNotNull)
      .drop("__mina", "__maxa", "__minb", "__maxb")
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
    gatedPairAgg(ranked, family, minSamples, col("__ra"), col("__rb"))
  }

  /** Scale-path variant for complete matrices (every item observed on
    * every sample of its family — the common genomic case): ranks are
    * computed ONCE per (family, item) instead of once per pair, then
    * the ranked rows pair up through [[pairJoin]]'s self-join — both
    * sides of which are aliases over ONE pre-shuffled subtree, so the
    * scan + rank window + exchange execute once (AQE exchange reuse).
    * Identical output to [[pairCorrelations]] on complete matrices:
    * with nothing missing, ranks over the shared samples equal the
    * global per-item ranks (pinned by StatsSpec).
    *
    * Cost model: O(I·n log n) window work + a P·n-row join output
    * (P = item pairs) feeding the gated aggregate — vs the exact
    * path's O(P·n log n) per-pair rank windows. For incomplete
    * matrices use [[pairCorrelations]], which is the semantics, not
    * just the slower plan.
    */
  def pairCorrelationsDense(
      df: DataFrame,
      family: Seq[String],
      item: String,
      sample: String,
      value: String,
      minSamples: Int = 2,
      knownItems: Option[Seq[Any]] = None,
      wideLimit: Int = WideItemLimit): DataFrame = {
    val itemKeys = family.map(col) :+ col(item)
    val ranked = Ranks.fractionalRank(df, itemKeys, col(value), "__r0")
    // Item inventory: passed by callers that know it, else one tiny
    // driver action on a distinct of one column. Canonicalized
    // (dedup + ascending) regardless of source so the wide path's
    // pair enumeration matches the join path's `item_a < item_b`
    // condition even when a caller passes an unsorted/duplicated list.
    // Item sets of 2..wideLimit take the wide (pivot) plan; the
    // DEFAULT wideLimit is 0 — the join plan measured faster at every
    // shape tried (see WideItemLimit) — so the wide plan is opt-in,
    // for callers that want its stricter uniqueness validation
    // (raise_error on duplicate observations — the join path would
    // cross-product them instead).
    // The probe LIMITs at wideLimit+1: deciding the path only needs
    // "more than the limit?", so a large inventory (the genomic case —
    // hundreds of genes) short-circuits instead of paying a full
    // distinct+sort; at or under the limit, the probe IS the complete
    // inventory and is canonicalized driver-side. Below a limit of 2
    // no inventory can select the wide plan, so the probe is skipped.
    val items = knownItems.getOrElse(
      if (wideLimit < 2) Seq.empty
      else df.select(col(item)).distinct().limit(wideLimit + 1)
        .collect().map(_.get(0)).toSeq)
      .distinct.sortWith(sqlLt)
    if (items.length >= 2 && items.length <= wideLimit)
      widePairAgg(ranked, family, item, sample, value, minSamples, items)
    else {
      val joined = pairJoin(ranked, family, item, sample, value, rank = Some("__r0"))
      gatedPairAgg(joined, family, minSamples, col("__ra"), col("__rb"))
    }
  }

  /** Blocked pair enumeration — the unfiltered-gene (20k+ items) scale
    * path (SURVEY §7.4.6's open item, round-4 verdict #2).
    *
    * [[pairCorrelationsDense]]'s pair join keys on (family, sample):
    * every sample's I item-rows meet in ONE join group, which streams
    * I²/2 pair rows into that task's partial-aggregate hash map — at
    * the reference's unfiltered envelope (I≈20k ⇒ P≈2·10⁸ pairs) the
    * per-task pair fan-out and live aggregation state blow up even
    * though total work is inherently O(P·n).
    *
    * This variant buckets the ITEM INVENTORY into `nBlocks` ordered
    * blocks (ntile over the distinct items — a window over I rows, not
    * the data) and enumerates pairs per BLOCK-PAIR: side a replicates
    * each row to block-pairs (g, g..B), side b to (1..h, h), and the
    * join keys on (family, sample, g1, g2). Each join group now holds
    * (I/B)² pairs — per-task state shrinks quadratically in B for a
    * B/2-fold row replication in the exchange — and the
    * per-(family,sample) hot key is structurally gone. Block order
    * follows item order, so cross-block pairs are canonical by
    * construction and same-block pairs add the usual `item_a < item_b`
    * residual. Ranks are computed once per item (dense semantics) and
    * the join output feeds the same gated aggregate, so the exchange
    * after enumeration carries per-pair aggregate buffers exactly like
    * the dense path. Output is IDENTICAL to [[pairCorrelationsDense]]
    * on any input (StatsSpec pins it, complete and incomplete).
    *
    * Measured (ProbeBlockedSpearman, 1 family x 200 samples, complete
    * matrix, local 32 threads):
    *
    *   I      dense-join   blocked B=4   B=8    B=16
    *   500    11.6 s       (10.8 s at B=16)
    *   2000   38-47 s      48 s          60 s   78 s
    *
    * Wall growth I=500 -> I=2000 (16x the pairs): dense 3.3x, blocked
    * 7.2x at B=16 — both far under the pair-count growth. Locally the
    * dense join is already balanced (samples >> cores), so blocking
    * buys nothing but its B/2-fold replication overhead — B=4 is at
    * parity. The blocked path's value is the STATE BOUND: a dense
    * partial-aggregate partition sees every pair key (P ~ 2*10^8
    * buffers at I=20k — spill thrash), the blocked one at most its
    * block-pairs' (I/B)^2. Hence the auto default targets ~500 items
    * per block (the measured parity point) and grows B with I: state
    * stays ~250k buffers per block-pair while replication only rises
    * where the dense path would already be dying.
    */
  def pairCorrelationsBlocked(
      df: DataFrame,
      family: Seq[String],
      item: String,
      sample: String,
      value: String,
      minSamples: Int = 2,
      nBlocks: Int = 0): DataFrame = {
    require(nBlocks >= 0, s"nBlocks must be >= 1, or 0 for auto, got $nBlocks")
    val itemKeys = family.map(col) :+ col(item)
    val ranked = Ranks.fractionalRank(df, itemKeys, col(value), "__r0")
    // ordered block per item: ntile over the DISTINCT item inventory —
    // a single-task window over I rows (the inventory, not the corpus),
    // broadcast back. Block order = item order, so g1 < g2 implies
    // item_a < item_b for cross-block pairs.
    // materialized once: auto mode counts it AND blkMap re-reads it —
    // uncheckpointed, each would be its own full distinct scan of df
    val inventory = df.select(col(item)).distinct().localCheckpoint(true)
    val blocks =
      if (nBlocks > 0) nBlocks
      // auto: ~500 items per block (ProbeBlockedSpearman's parity
      // point), capped so replication stays bounded. The inventory
      // count is a tiny aggregate over distinct items.
      else math.max(1, math.min(64, (inventory.count() / 500L).toInt + 1))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(item))
    val blkMap = inventory.withColumn("__blk", ntile(blocks).over(w))
    val pre = ranked.join(broadcast(blkMap), Seq(item))
      .select((family.map(col) ++ Seq(col(item), col(sample), col(value),
        col("__r0"), col("__blk"))): _*)
      .repartition((family :+ sample).map(col): _*)
      .localCheckpoint(true) // same AQE-race + reuse rationale as pairJoin
    // consumed into pre's eager checkpoint above; Dataset.unpersist is
    // a no-op on a checkpointed frame — drop the persisted RDD itself
    graft.Checkpoints.drop(inventory)
    val aSide = pre
      .withColumn("__g2", explode(sequence(col("__blk"), lit(blocks))))
      .withColumnRenamed("__blk", "__g1")
    val bSide = pre
      .withColumn("__g1", explode(sequence(lit(1), col("__blk"))))
      .withColumnRenamed("__blk", "__g2")
      .select((Seq(col(s"$sample").as("__sb"), col("__g1"), col("__g2"),
        col(item).as("item_b"), col(value).as("__vb"), col("__r0").as("__rb")) ++
        family.map(k => col(k).as(s"__fb_$k"))): _*)
    val cond = (family.map(k => col(k) === col(s"__fb_$k")) ++ Seq(
      col(sample) === col("__sb"),
      col("a.__g1") === col("b.__g1"),
      col("a.__g2") === col("b.__g2"),
      // same-block pairs need the theta residual; cross-block pairs are
      // ordered by block construction
      col("a.__g1") =!= col("a.__g2") || col(item) < col("item_b")))
      .reduce(_ && _)
    val joined = aSide.as("a").join(bSide.as("b"), cond)
      .select((family.map(col) ++ Seq(
        col(item).as("item_a"), col(value).as("__va"), col("__r0").as("__ra"),
        col("item_b"), col("__vb"), col("__rb"))): _*)
    gatedPairAgg(joined, family, minSamples, col("__ra"), col("__rb"))
  }

  /** SQL-ordering comparator for item inventory values, matching
    * Spark's own ordering so the wide path's item_a/item_b labeling
    * agrees with the join path's `item_a < item_b` condition: strings
    * compare by UTF-8 byte order (UTF8String semantics — UTF-16 char
    * order diverges for supplementary code points), integrals compare
    * as longs (a double round-trip loses precision above 2^53), and
    * only mixed integral/floating pairs take the double route (Spark's
    * implicit widening for such comparisons). Anything else falls back
    * to string order.
    */
  private def sqlLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    case (x: java.lang.Number, y: java.lang.Number) =>
      if (isIntegral(x) && isIntegral(y)) x.longValue < y.longValue
      else x.doubleValue < y.doubleValue
    case _ => String.valueOf(a) < String.valueOf(b)
  }

  private def isIntegral(n: java.lang.Number): Boolean = n match {
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
        _: java.lang.Long => true
    case _ => false
  }

  /** Default item-count ceiling for the wide (pivot) plan — 0: the
    * JOIN plan is the measured winner at every shape tried, so the
    * wide plan is opt-in via the `wideLimit` parameter.
    *
    * Round-3 measurements (ProbeWideCrossover on the 4-study × 5,000
    * sample scale fixture; ProbeC2Path on the sf0.1 bench shape):
    *
    *   I      wide      join     (scale fixture, seconds)
    *   3      4.8       1.9
    *   8      9.5       2.3
    *   16     11.3      4.8
    *   32     54.4      2.0
    *   64     668       4.4
    *   120    (hours)   9.6
    *   c2 sf0.1 shape: wide 2.65, join 2.36 (steady state)
    *
    * The wide plan's round-2 3× win at I=3 was measured against the
    * PRE-round-3 join formulation (two per-pair rank windows over the
    * P·n join output); once the join route carried per-item ranks and
    * the exact path became one typed-aggregate pass, the join plan won
    * everywhere. Two structural reasons the wide plan loses at scale:
    * its final aggregate has only |families| groups (parallelism
    * collapses to the family count — 4 single-threaded groups on the
    * fixture), and P(P−1)/2·6 aggregate columns blow past codegen
    * limits (48 MiB task binaries at I=64). Retained as an opt-in
    * because its per-(family,sample) uniqueness guard (raise_error on
    * duplicate observations) is stricter than the join path's, and
    * StatsSpec pins the two plans' equality.
    */
  val WideItemLimit = 0

  /** Wide (pivot-style) dense Spearman: reshape the ranked long form to
    * one row per (family, sample) with a rank and value column per item
    * (conditional-aggregation pivot), then compute EVERY pair's
    * (corr, n, min/max gates) as parallel aggregate columns of ONE
    * groupBy(family), and unpivot the per-pair structs back to rows.
    *
    * Identical semantics to the join path on complete AND incomplete
    * matrices under dense ranking: `corr` ignores rows where either
    * rank is null (= the inner pair join on shared samples), `n` counts
    * both-present rows, and the gates min/max over the both-present
    * subset. The difference is the plan: two shuffles of I·n rows
    * (rank window, sample pivot) + one tiny family aggregate — the
    * P·n-row join blow-up never exists. At I=3/sf0.1 this measured
    * ~3x faster than the self-join plan; at I=120 (7,140 pairs ⇒ ~50k
    * aggregate columns) it would not compile efficiently — the join
    * path takes over above [[WideItemLimit]].
    */
  private def widePairAgg(ranked0: DataFrame, family: Seq[String], item: String,
      sample: String, value: String, minSamples: Int, items: Seq[Any]): DataFrame = {
    val n = items.length
    // Restrict to the canonicalized inventory (and non-null items, which
    // `isin` drops naturally): a knownItems subset or stray NULL item
    // must behave like the join path — those rows simply don't pair —
    // rather than inflate __nobs and trip the duplicate guard below.
    // Ranks are per (family, item) partitions, so dropping whole item
    // groups after ranking leaves the kept items' ranks untouched.
    val ranked = ranked0.where(col(item).isin(items: _*))
    // pivot: one rank + one value column per item (at most one row per
    // (family, sample, item) in a dense matrix — max picks it)
    val pivotAggs = items.zipWithIndex.flatMap { case (it, i) =>
      Seq(max(when(col(item) === lit(it), col("__r0"))).as(s"__r_$i"),
        max(when(col(item) === lit(it), col(value))).as(s"__v_$i"))
    } :+ count(lit(1)).as("__nobs")
    // uniqueness guard: a (family, sample) group must have at most one
    // observation per item; more rows than present items means a
    // duplicate the pivot would silently collapse (the join path would
    // cross-product it) — fail loudly instead
    val present = items.indices
      .map(i => when(col(s"__r_$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    // the guard wraps __r_0 (read by every (0, j) pair aggregate) —
    // a free-standing dropped column would be pruned away unevaluated
    val wide = ranked.groupBy((family.map(col) :+ col(sample)): _*)
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .withColumn("__r_0",
        when(col("__nobs") > present, raise_error(concat(
          lit("Spearman wide path requires unique (family, item, sample) " +
            "observations; duplicate found at sample="), col(sample).cast("string"))))
          .otherwise(col("__r_0")))
      .drop("__nobs")
    val pairs = for { i <- 0 until n; j <- i + 1 until n } yield (i, j)
    val pairAggs = pairs.flatMap { case (i, j) =>
      val (ri, rj) = (col(s"__r_$i"), col(s"__r_$j"))
      val both = ri.isNotNull && rj.isNotNull
      Seq(
        corr(ri, rj).as(s"__rho_${i}_$j"),
        count(when(both, 1)).as(s"__n_${i}_$j"),
        min(when(both, col(s"__v_$i"))).as(s"__mina_${i}_$j"),
        max(when(both, col(s"__v_$i"))).as(s"__maxa_${i}_$j"),
        min(when(both, col(s"__v_$j"))).as(s"__minb_${i}_$j"),
        max(when(both, col(s"__v_$j"))).as(s"__maxb_${i}_$j"))
    }
    val agged = wide.groupBy(family.map(col): _*).agg(pairAggs.head, pairAggs.tail: _*)
    val pairStructs = pairs.map { case (i, j) =>
      struct(lit(items(i)).as("item_a"), lit(items(j)).as("item_b"),
        col(s"__n_${i}_$j").as("n_samples"), col(s"__rho_${i}_$j").as("rho"),
        col(s"__mina_${i}_$j").as("__mina"), col(s"__maxa_${i}_$j").as("__maxa"),
        col(s"__minb_${i}_$j").as("__minb"), col(s"__maxb_${i}_$j").as("__maxb"))
    }
    agged
      .select((family.map(col) :+ explode(array(pairStructs: _*)).as("__pair")): _*)
      .select((family.map(col) :+ col("__pair.*")): _*)
      .where(col("n_samples") >= minSamples &&
        col("__mina") < col("__maxa") && col("__minb") < col("__maxb") &&
        !isnan(col("rho")) && col("rho").isNotNull)
      .drop("__mina", "__maxa", "__minb", "__maxb")
  }
}
