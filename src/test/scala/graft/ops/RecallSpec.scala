package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall floors for the APPROXIMATE operators against their exact
  * in-repo twins (round-3 verdict #1: the DuckDB oracles replay the
  * same approximation, so a change that silently craters recall — bad
  * hyperplane constants, skewed codebook, banding bug — would still
  * hash-match; recall is the one quality axis only these specs guard).
  *
  * Every operator here is DETERMINISTIC (md5-derived hyperplanes /
  * hash params, id-ordered tie-breaks), so on a fixed corpus recall is
  * a constant, not a random variable: each floor is pinned just under
  * the measured value, and the LSH survival formula in each test
  * argues the measured value is the expected one, not a lucky draw —
  * where possible the test computes the formula's prediction from the
  * exact twin's similarity distribution and asserts the measured
  * recall lands on it. The formula-pinned checks adapt to the corpus
  * automatically, which is what lets the SAME tests run at sf0.01
  * ([[RecallSpec]], the fast default) and sf0.1 ([[RecallAtScaleSpec]],
  * round-4 verdict #8 — a recall-degrading change cannot hide behind
  * the small fixture).
  */
abstract class RecallFloorsSpec(sfDir: String) extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Fraction of `exact` pairs present in `approx` (both canonical
    * id_a < id_b).
    */
  private def pairRecall(exact: DataFrame, approx: DataFrame): (Long, Long, Double) = {
    val e = exact.select("id_a", "id_b")
    val hits = e.join(approx.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi").count()
    val total = e.count()
    (hits, total, if (total == 0) 1.0 else hits.toDouble / total)
  }

  /** Recall under the hot-bucket guard's collapsed pair semantics: an
    * exact pair counts as FOUND when its endpoints land in the same
    * connected component of the approx pair graph — identical-signature
    * groups are represented by star + rep edges rather than enumerated
    * (HotBucketSpec pins the equivalence), so component membership, not
    * raw pair presence, is the honest retrieval measure for the dedup
    * operators.
    */
  private def componentPairRecall(exact: DataFrame, approx: DataFrame): (Long, Long, Double) = {
    val comp = ConnectedComponents.connectedComponents(approx.select("id_a", "id_b"))
    val e = exact.select("id_a", "id_b")
    val hits = e
      .join(comp.toDF("id_a", "__ca"), Seq("id_a"))
      .join(comp.toDF("id_b", "__cb"), Seq("id_b"))
      .where(col("__ca") === col("__cb")).count()
    val total = e.count()
    (hits, total, if (total == 0) 1.0 else hits.toDouble / total)
  }

  /** Mean over queries of |approx@k ∩ exact@k| / |exact@k|. */
  private def topkRecall(exact: DataFrame, approx: DataFrame): Double = {
    val e = exact.select("query_id", "neighbor_id")
    val hits = e.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("total"))
      .join(hits, Seq("query_id"), "left")
      .select(avg(coalesce(col("hit"), lit(0L)).cast("double") / col("total")))
      .head.getDouble(0)
  }

  /** Any-band LSH survival probability per exact top-k edge, averaged:
    * 1 - (1 - (1-theta/pi)^planes)^bands with theta from the edge's
    * exact cosine.
    */
  private def lshPredictedTopkRecall(exact: DataFrame, planes: Int, bands: Int): Double =
    exact.select(avg(lit(1.0) -
        pow(lit(1.0) - pow(lit(1.0) - acos(col("cosine")) / math.Pi, planes.toDouble),
          bands.toDouble)))
      .head.getDouble(0)

  test("p3 recall: MinHash+LSH finds (or star-represents) every exact n-gram-Jaccard pair") {
    val exact = Dedup.ngramJaccardPairs(docs, n = 8, tau = 0.5).cache()
    val approx = Dedup.minhashDupPairs(docs, n = 8, numHashes = 16,
      rowsPerBand = 4, tau = 0.5).cache()
    val (hits, total, recall) = componentPairRecall(exact, approx)
    info(s"p3 overall: $hits/$total recall=$recall")
    assert(total > 0, "exact twin found no pairs — the corpus fixture changed")
    // Floor rationale: true dup pairs on these corpora are high-Jaccard
    // (at sf0.01 all 25 sit at J >= 0.8), where banding theory (r=4
    // rows, b=4 bands) gives candidate probability 1-(1-J^4)^4 >= 0.878
    // and the 16-hash estimate gate passes w.p. > 0.998; measured
    // component recall is 25/25 = 1.0 at sf0.01. Floor 0.9 catches a
    // banding/hash regression without being brittle to a few
    // near-threshold pairs.
    assert(recall >= 0.9, s"p3 recall $recall < 0.9 ($hits/$total)")
    val hi = exact.where(col("jaccard") >= 0.8)
    val (hHits, hTotal, hRecall) = componentPairRecall(hi, approx)
    info(s"p3 J>=0.8 tier: $hHits/$hTotal recall=$hRecall")
    assert(hRecall >= 0.95, s"p3 J>=0.8 recall $hRecall < 0.95 ($hHits/$hTotal)")
    exact.unpersist(); approx.unpersist()
  }

  test("p4: pigeonhole blocking is COMPLETE at its hamming radius; fingerprint catches half the Jaccard dups") {
    // p4's guarantee axis is HAMMING, not Jaccard: the 4-block
    // pigeonhole is lossless for hamming <= 3 (3 differing bits can
    // dirty at most 3 of 4 blocks). Under the hot-bucket guard the
    // blocked pairs are a SUBSET of the brute-force hamming pairs
    // (stars are hamming-0 pairs) whose connected components must be
    // IDENTICAL — a blocking bug (wrong block width, dropped band)
    // loses a component link; an inventing bug adds a pair brute
    // doesn't have.
    val approx = Dedup.simhashPairs(docs, maxHamming = 3).cache()
    val sh = Dedup.simhash(docs, 60)
    val brute = sh.toDF("id_a", "sim_a")
      .join(sh.toDF("id_b", "sim_b"), col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= 3)
      .select("id_a", "id_b").cache()
    val bruteSet = brute.collect().map(r => (r.get(0), r.get(1))).toSet
    val blockedSet = approx.select("id_a", "id_b").collect()
      .map(r => (r.get(0), r.get(1))).toSet
    info(s"p4 hamming<=3 pairs: brute=${bruteSet.size} blocked=${blockedSet.size}")
    assert(bruteSet.nonEmpty, "no hamming<=3 pairs — the corpus fixture changed")
    assert((blockedSet -- bruteSet).isEmpty,
      s"pigeonhole blocking invented pairs: ${blockedSet -- bruteSet}")
    val (cHits, cTotal, cRecall) = componentPairRecall(brute, approx)
    assert(cRecall == 1.0,
      s"pigeonhole blocking lost component links: $cHits/$cTotal")
    brute.unpersist()
    // Fidelity axis: overlap with the exact char-8-shingle Jaccard
    // pairs. Token-level jitter spreads near-identical docs to hamming
    // 0-9 (sf0.01 distribution: 13 pairs at <=3, 10 more at 4-5, 2
    // at 9), so the 60-bit/radius-3 configuration catches ~half the
    // J>=0.5 pairs — the standard SimHash granularity trade;
    // radius-insensitive dedup is p3's (MinHash) job.
    val exact = Dedup.ngramJaccardPairs(docs, n = 8, tau = 0.5)
    val (hits, total, recall) = componentPairRecall(exact, approx)
    info(s"p4 vs exact Jaccard: $hits/$total recall=$recall")
    assert(recall >= 0.4, s"p4 Jaccard-tier recall $recall < 0.4 ($hits/$total)")
    approx.unpersist()
  }

  test("p23 recall: blocked near-dup pairs land on their own survival formula (vs p12 twin)") {
    val exact = Similarity.cosineDupPairs(emb, tau = 0.45).cache()
    val approx = Similarity.cosineDupPairsBlocked(emb, tau = 0.45, planes = 4, bands = 3)
    val (hits, total, recall) = pairRecall(exact, approx)
    // The operator's own survival formula: a pair at angle theta is
    // co-bucketed by one 4-plane band w.p. (1-theta/pi)^4 and missed by
    // all 3 bands w.p. (1-(1-theta/pi)^4)^3. At tau=0.45 the exact
    // pairs sit near the threshold (cos 0.45-0.51), predicting ~0.458
    // at sf0.01; measured 7/14 = 0.5 there. The two-sided check pins
    // the implementation TO the theory — a hyperplane-derivation bug
    // that halves recall (or a blocking bug that silently degenerates
    // to all-pairs, recall 1.0) both fail it.
    val predicted = exact.select(
      avg(lit(1.0) - pow(lit(1.0) - pow(lit(1.0) - acos(col("cosine")) / math.Pi, 4.0), 3.0)))
      .head.getDouble(0)
    info(s"p23: $hits/$total recall=$recall formulaPrediction=$predicted")
    assert(total > 0, "exact twin found no pairs — the corpus fixture changed")
    assert(math.abs(recall - predicted) <= 0.2,
      s"p23 recall $recall drifted from its formula prediction $predicted")
    assert(recall >= 0.3, s"p23 recall $recall < 0.3")
    exact.unpersist()
  }

  test("auto-planes: floor at oracle scales, log2(n) growth beyond, blocking stays sound") {
    // the pure sizing function (the p25 scale fix): at every
    // oracle-checked corpus size auto resolves to the floor — the
    // fixed-planes SQL twins stay bit-exact where they are checked
    assert(Similarity.autoPlanes(500L, 4, 256) == 4)
    assert(Similarity.autoPlanes(2000L, 4, 256) == 4)
    assert(Similarity.autoPlanes(2000L, 8, 256) == 8)
    // the round-7 10x probe size: 20k vectors -> 7 planes = 128
    // buckets/band, occupancy ~156 (vs 1250 at fixed 4 planes — the
    // measured 8.1x-at-10x blowup); growth is log2, capped at the
    // 62-bit bucket mask; target<=0 disables auto entirely
    assert(Similarity.autoPlanes(20000L, 4, 256) == 7)
    assert(Similarity.autoPlanes(2000000L, 4, 256) == 13)
    assert(Similarity.autoPlanes(Long.MaxValue, 4, 1) == 62)
    assert(Similarity.autoPlanes(20000L, 4, 0) == 4)

    // end-to-end at a target that forces auto ABOVE the floor on THIS
    // corpus: every reported pair must still be a true cosine>=tau
    // pair (blocking can lose pairs, never invent them), and measured
    // recall must land on the survival formula evaluated at the
    // CHOSEN plane count — the recall/occupancy trade is exactly the
    // formula's, not an implementation accident
    val n = emb.where(col("embedding").isNotNull && size(col("embedding")) > 0).count()
    val chosen = Similarity.autoPlanes(n, 4, 16)
    assert(chosen > 4, s"fixture too small to exercise auto: n=$n chosen=$chosen")
    val exact = Similarity.cosineDupPairs(emb, tau = 0.45).cache()
    val approx = Similarity.cosineDupPairsBlocked(emb, tau = 0.45, planes = 4,
      bands = 3, targetOccupancy = 16).cache()
    assert(approx.join(exact, Seq("id_a", "id_b"), "left_anti").count() == 0,
      "auto-raised blocking invented pairs")
    val (hits, total, recall) = pairRecall(exact, approx)
    val predicted = exact.select(
      avg(lit(1.0) - pow(lit(1.0) -
        pow(lit(1.0) - acos(col("cosine")) / math.Pi, chosen.toDouble), 3.0)))
      .head.getDouble(0)
    info(s"auto-planes: n=$n chosen=$chosen recall=$recall ($hits/$total) predicted=$predicted")
    assert(math.abs(recall - predicted) <= 0.3,
      s"auto-planes recall $recall drifted from its formula prediction $predicted (chosen=$chosen)")
    exact.unpersist(); approx.unpersist()
  }

  test("auto-centroids: floor at oracle scales, n/occupancy growth beyond, ranking stays sound") {
    // the pure sizing function (the p13/p59 scale discipline,
    // APPLIED): at every oracle-checked corpus size auto resolves to
    // the floor — the unrolled-SQL k-means twins stay bit-exact where
    // they are checked
    assert(Similarity.autoCentroids(500L, 8, 1024) == 8)    // sf0.01
    assert(Similarity.autoCentroids(5000L, 8, 1024) == 8)   // sf0.1
    // the 10x probe size: 50k vectors -> 49 cells, occupancy back to
    // ~1000 (vs ~6250 at fixed 8 — the measured 4-5x-at-10x growth);
    // capped at 4096 (driver-side codebook); target<=0 disables auto
    assert(Similarity.autoCentroids(50000L, 8, 1024) == 49)
    assert(Similarity.autoCentroids(Long.MaxValue, 8, 1) == 4096)
    assert(Similarity.autoCentroids(50000L, 8, 0) == 8)

    // end-to-end at a target that forces auto ABOVE the floor on THIS
    // corpus: every reported neighbor must still be a true pair with
    // the exact cosine (probing can lose neighbors, never invent or
    // mis-score them), ranks stay within k, no self-pairs
    val n = emb.where(col("embedding").isNotNull && size(col("embedding")) > 0).count()
    val chosen = Similarity.autoCentroids(n, 8, 32)
    assert(chosen > 8, s"fixture too small to exercise auto: n=$n chosen=$chosen")
    val approx = Similarity.ivfCosineTopK(emb, k = 5, targetOccupancy = 32)
      .withColumn("c9", round(col("cosine"), 9)).cache()
    assert(approx.where(col("query_id") === col("neighbor_id")).count() == 0)
    assert(approx.groupBy("query_id").count().where(col("count") > 5).count() == 0)
    val exactAll = Similarity.cosineTopK(emb, k = n.toInt)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 9).as("c9"))
    assert(approx.select("query_id", "neighbor_id", "c9")
      .join(exactAll, Seq("query_id", "neighbor_id", "c9"), "left_anti")
      .count() == 0, "auto-raised IVF invented or mis-scored a pair")
    approx.unpersist()
  }

  test("p44 recall: within-cell capture of exact cosine dup pairs; nProbe=2 lifts it") {
    // SemDeDup's premise is that near-duplicates co-cluster; this
    // measures it on the corpus — fraction of exact cosine-dup pairs
    // (the p12 twin) the operator can SEE — at rank-1 only, and with
    // the production nProbe=2 probing (pair visible when either
    // endpoint probes the other's rank-1 cell).
    val exact = Similarity.cosineDupPairs(emb, tau = 0.45).cache()
    val total = exact.count()
    assert(total > 0, "exact twin found no pairs — the corpus fixture changed")
    def recallAt(nProbe: Int): Double = {
      val verdict = Similarity.semanticDedup(emb, tau = 0.45, nCentroids = 8,
        nProbe = nProbe)
      // a captured pair surfaces as its larger endpoint dropped (or
      // dropped via an even-more-similar mate — either way, seen)
      val dropped = verdict.where(!col("keep")).select(col("vec_id").as("id_b"))
      val hits = exact.join(dropped, Seq("id_b"), "left_semi").count()
      hits.toDouble / total
    }
    val r1 = recallAt(1)
    val r2 = recallAt(2)
    // nProbe = 0 is the tau-derived default (autoProbe(0.45) = 3) —
    // the configuration the p44 query actually ships, so ITS floor is
    // the one a user's recall rests on at this permissive tau
    val rAuto = recallAt(0)
    info(s"p44: total=$total rank1Recall=$r1 nProbe2Recall=$r2 autoProbeRecall=$rAuto")
    assert(r2 >= r1, "probing more cells must never lose pairs")
    assert(rAuto >= r2, "the tau-derived probe width must not lose pairs vs nProbe=2")
    assert(rAuto >= 0.6, s"p44 auto-probe recall $rAuto < 0.6 — " +
      "near-dups no longer co-cluster; raise nCentroids or re-fit")
    exact.unpersist()
  }

  test("p44 production-tau regime: near-identical twins captured at the tau-derived rank-1 probing") {
    // the tau -> probe-width derivation itself (one cell per ~30
    // degrees of allowed angular spread; values chosen off the
    // floating-point grid boundaries)
    assert(Similarity.autoProbe(0.95) == 1)
    assert(Similarity.autoProbe(0.6) == 2)
    assert(Similarity.autoProbe(0.45) == 3)

    // Production SemDeDup runs tau ~0.9-0.95, where duplicate pairs
    // are near-identical vectors. The corpus' cosine tail tops out
    // ~0.51, so that regime is BUILT here: for each vec_id < 100 a
    // twin at +1e6 with coordinate 0 nudged by 2% of the vector's
    // norm — cosine(v, twin) >= 0.9998 by construction, while every
    // other pair stays under ~0.6. The exact twin pair set is the
    // ground truth; capture must be near-total at the tau-derived
    // probe width (autoProbe(0.9) = 1 — the paper's own rank-1
    // configuration), because near-identical vectors co-cluster
    // except exactly on a cell boundary.
    val base = emb
      .where(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val nrm = sqrt(aggregate(transform(col("embedding"), x => x * x),
      lit(0.0), (a, x) => a + x))
    val twins = base.where(col("vec_id") < 100)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.02) * nrm).otherwise(x)).as("embedding"))
    val combined = base.unionByName(twins)
    val exact = Similarity.cosineDupPairs(combined, tau = 0.9).cache()
    val total = exact.count()
    assert(total >= 50, s"twin planting produced only $total pairs")
    assert(exact.where(col("id_b") < 1000000L).count() == 0,
      "a non-twin pair crossed tau=0.9 — the fixture's cosine tail moved")
    val verdict = Similarity.semanticDedup(combined, tau = 0.9, nCentroids = 8)
    val dropped = verdict.where(!col("keep")).select(col("vec_id").as("id_b"))
    val hits = exact.join(dropped, Seq("id_b"), "left_semi").count()
    val capture = hits.toDouble / total
    info(s"p44 production tau=0.9: total=$total captured=$hits capture=$capture")
    assert(capture >= 0.9,
      s"p44 production-regime capture $capture < 0.9 — near-identical " +
        "twins stopped co-clustering; the codebook fit or assignment broke")
    exact.unpersist()
  }

  test("p6 recall@5: single-band sign-LSH matches its (low) theoretical recall — p25 banding is the fix") {
    val exact = Similarity.cosineTopK(emb, k = 5).cache()
    val approx = Similarity.lshCosineTopK(emb, k = 5, planes = 8)
    val r = topkRecall(exact, approx)
    // Single-band 8-plane LSH on a mid-angle corpus (exact top-5
    // cosines ~0.3-0.5, theta ~60-72deg) collides w.p. (1-theta/pi)^8
    // ~ 0.02-0.03 — the measured ~0.02 recall IS the theory, not a
    // bug: one bucketing cannot retrieve mid-angle neighbors. The
    // check pins measured to predicted so the hyperplane derivation
    // stays honest; the p25 banded variant below is the
    // retrieval-grade configuration of the same operator.
    val predicted = lshPredictedTopkRecall(exact, planes = 8, bands = 1)
    info(s"p6 recall@5=$r predicted=$predicted")
    assert(math.abs(r - predicted) <= 0.05,
      s"p6 recall $r drifted from its formula prediction $predicted")
    exact.unpersist()
  }

  test("p25 recall@5: OR-amplified banded LSH lifts recall to its formula's level") {
    val exact = Similarity.cosineTopK(emb, k = 5).cache()
    val approx = Similarity.lshCosineTopK(emb, k = 5, planes = 4, bands = 4)
    val r = topkRecall(exact, approx)
    // 4 bands x 4 disjoint planes: per-band collision (1-theta/pi)^4,
    // any-band survival 1-(1-(1-theta/pi)^4)^4 — predicted ~0.45 on
    // the sf0.01 top-5 angle distribution; measured 0.4356 there (the
    // gap is bucket-granularity: co-bucketed non-neighbors displace
    // true neighbors past rank 5). 20x p6's single-band recall at the
    // same 16-hyperplane budget.
    val predicted = lshPredictedTopkRecall(exact, planes = 4, bands = 4)
    info(s"p25 recall@5=$r predicted=$predicted")
    assert(math.abs(r - predicted) <= 0.15,
      s"p25 recall $r drifted from its formula prediction $predicted")
    assert(r >= 0.3, s"p25 recall $r < 0.3")
    exact.unpersist()
  }

  test("p13 recall@5: IVF with the k-means codebook beats its nProbe share and the min-id stand-in") {
    val exact = Similarity.cosineTopK(emb, k = 5).cache()
    val kmeans = Similarity.ivfCosineTopK(emb, k = 5, nCentroids = 8, nProbe = 2)
    val r = topkRecall(exact, kmeans)
    info(s"p13 recall@5 (kmeans)=$r")
    // nProbe=2 of 8 cells scans ~25% of a randomly-partitioned corpus;
    // a codebook that actually clusters must beat that share because
    // neighbors co-locate in the probed cells. Measured at sf0.01:
    // 0.52 with the k-means codebook (the min-id stand-in scored 0.445
    // on the same corpus). Floor 0.4 catches a codebook collapse
    // (all-one-cell -> recall ~nProbe-share of a skewed partition)
    // while tolerating data-noise-scale movement.
    assert(r >= 0.4, s"p13 kmeans recall $r < 0.4")
    exact.unpersist()
  }

  test("p59 recall@5: IVF hard negatives capture the exact wrong-label top-k above the probe share") {
    // the labeled twin (p61) defines the target: per anchor, the true
    // 5 nearest WRONG-label vectors over all pairs. Same probing as
    // p13 (auto-probe, auto-centroids), so the same beats-its-share
    // argument applies — a label-plumbing bug (filter after ranking,
    // lost label column) would crater this without touching p13.
    // Measured: 0.519 at sf0.01, 0.482 at sf0.1 (p13 reads 0.52 on
    // the same corpus — labels cost ~nothing because wrong-label
    // neighbors co-cluster like any neighbors). Floor 0.4 as p13.
    val exact = Similarity.hardNegativesTopK(emb, k = 5).cache()
    val approx = Similarity.ivfHardNegatives(emb, k = 5)
    val r = topkRecall(exact, approx)
    info(s"p59 hard-negative recall@5=$r")
    assert(r >= 0.4, s"p59 hard-negative recall $r < 0.4")
    exact.unpersist()
  }

  test("p64 recall@5: IVF-PQ captures the exact L2 top-k above a collapsed-quantizer floor") {
    // the labeled twin (p65) defines the target: the true 5 nearest
    // by squared L2 over all pairs. p64 approximates twice — coarse
    // cosine cells prune candidates (the p13 recall regime: capture
    // measured 0.52 by the ProbePq decomposition, commit 7ad950a)
    // AND ranking inside the lists runs on PQ codes — but the exact
    // top-rerankK refine
    // recovers most of the in-cell ranking, so the measured recall
    // sits near the cell ceiling AT BOTH SCALES: 0.4648 at sf0.01,
    // 0.4681 at sf0.1 (m=16/ksub=16; Pq.autoRerankK holds the
    // shortlist at a constant 16% share of the ADC pool — 20 at 500
    // vectors, 80 at 2000. The round-8 FIXED top-20 measured 0.3553
    // at sf0.1: the same config-bound decay autoPlanes/autoCentroids
    // closed for the LSH/IVF families, now closed here). A 0.3 floor
    // holds at both scales and catches every failure mode: codebook
    // collapse (-> nProbe-share of a skewed partition), a broken ADC
    // sum (raw m=4 ADC measured 0.085 — quantization noise swamping
    // neighbor gaps), or a refine that drops the shortlist.
    val exact = Pq.l2TopK(emb, k = 5).cache()
    val approx = Pq.ivfPqTopK(emb, k = 5)
    val r = topkRecall(exact, approx)
    info(s"p64 IVF-PQ recall@5=$r")
    assert(r >= 0.3, s"p64 IVF-PQ recall $r < 0.3")
    // p66 quantizes RESIDUALS against the coarse centroid — the same
    // code budget spent on within-cell geometry — so its shortlist
    // must be at least as good as raw-vector PQ's under the same
    // cells/refine (measured: 0.4760 vs 0.4648 at sf0.01, 0.4708 vs
    // 0.4681 at sf0.1 under auto-rerankK). Floored at the same 0.3
    // AND pinned >= p64's
    // measured recall: a residual-plumbing bug (wrong cell's centroid
    // subtracted, stale coarse codebook) degrades p66 BELOW p64 long
    // before it trips an absolute floor.
    val res = topkRecall(exact, Pq.ivfPqResidualTopK(emb, k = 5))
    info(s"p66 residual IVF-PQ recall@5=$res")
    assert(res >= 0.3, s"p66 residual IVF-PQ recall $res < 0.3")
    assert(res >= r - 1e-9, s"p66 residual recall $res fell below p64's $r")
    exact.unpersist()
  }
}

/** The fast default: sf0.01, runs in every `sbt test`. */
class RecallSpec extends RecallFloorsSpec("/root/testdata/sf0.01")

/** The same floors at sf0.1 (round-4 verdict #8): 10x the corpus
  * makes the O(N^2) exact twins the dominant cost (~15 min wall at
  * local[32]), so this suite is opt-in —
  *
  *   GRAFT_SLOW=1 sbt "testOnly graft.ops.RecallAtScaleSpec"
  *
  * — and run (with results recorded in BASELINE.md) each round rather
  * than on every `sbt test`. Measured 2026-08-16, round 12 (all 12
  * floors hold): p3 1.0, p4 complete at its radius, p23 on its
  * formula, p6/p25 on theirs, p13 0.4851 (floor 0.4), p59 0.4824
  * (floor 0.4), p64 0.4681 / p66 0.4708 (floors 0.3, p66 >= p64
  * pinned) — identical to 4 decimals with the round-9-era
  * measurements, the determinism contract holding across rounds.
  */
class RecallAtScaleSpec extends RecallFloorsSpec("/root/testdata/sf0.1") {
  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    if (sys.env.contains("GRAFT_SLOW")) super.withFixture(test)
    else cancel("sf0.1 recall floors are opt-in: set GRAFT_SLOW=1 (≈15 min)")
}
