package graft.ops

import graft.functions.VectorMath
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k (all-pairs). Scale path:
  * LSH over deterministic md5-derived random hyperplanes — bucket the
  * vectors by sign pattern, join only within buckets. The inner dot
  * product is a custom codegen expression ([[graft.functions.DotProduct]]);
  * norms are computed once per row BEFORE the pair join, so the
  * per-pair work is exactly one primitive O(d) loop.
  *
  * 100 TB notes: brute-force is O(N²·d) — correct as the quality
  * oracle and for small-N re-ranking. The LSH variant's join fan-out
  * is bounded by bucket occupancy (~N/2^planes); more planes = smaller
  * buckets = lower recall, the standard trade. Bucket ids double as
  * shuffle keys so each bucket's pairs co-locate on one executor.
  */
object Similarity {
  import Hashing._

  private def toDouble(v: Column): Column = transform(v, _.cast("double"))

  def cosine(a: Column, b: Column): Column = {
    val ad = toDouble(a); val bd = toDouble(b)
    VectorMath.dot(ad, bd) / (VectorMath.norm(ad) * VectorMath.norm(bd))
  }

  /** (id, vector-as-double, norm) projection — one norm per row.
    * Zero-norm vectors are EXCLUDED: their cosine is NaN, which Spark
    * orders above every double, so one all-zeros embedding would
    * otherwise become the rank-1 neighbor of every query and pass any
    * dup threshold (NaN >= tau is true in non-ANSI mode).
    */
  private def withNorm(emb: DataFrame, id: String, vec: String,
      idOut: String, vecOut: String, normOut: String,
      extra: Seq[(String, String)] = Nil): DataFrame =
    emb.select(col(id).as(idOut) +: toDouble(col(vec)).as(vecOut) +:
        extra.map { case (c, out) => col(c).as(out) }: _*)
      .withColumn(normOut, VectorMath.norm(col(vecOut)))
      .where(col(normOut) > 0.0)

  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Spread the streamed side of a nested-loop pair join: embedding
    * tables often arrive as one input split, and the O(N·broadcast)
    * probe loop otherwise runs in that single task (measured: the whole
    * brute-force scan single-threaded at sf0.1).
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact brute-force cosine top-k neighbors per vector.
    * Ties broken by neighbor id (ascending) for determinism.
    */
  def cosineTopK(emb: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val a = spread(withNorm(emb, id, vec, "query_id", "va", "na"))
    val b = withNorm(emb, id, vec, "neighbor_id", "vb", "nb")
    val pairs = a.join(broadcast(b), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
    rankTopK(pairs, k)
  }

  /** Deterministic hyperplane weight matrix (planes x dims), uniform in
    * [-1, 1] derived from md5 — identical derivation in the SQL oracle
    * (`hx(concat(plane, '_', dim))`), but computed ONCE on the driver:
    * it is a tiny planes x d parameter table, and evaluating the md5
    * per (row, plane, dim) instead measured 8.6 s in ONE task at sf0.1
    * (a 12.8M-row posexplode pipeline for what is 512 constants).
    */
  private def planeWeights(planes: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(planes, d)((p, i) =>
      ((Hashing.hex64Local(s"${p}_${i}") % 2001L) - 1000L).toDouble / 1000.0)

  /** Vector dimensionality probe (one-row driver action over the
    * non-null vectors); None when the table has no usable vector.
    */
  private def vecDim(emb: DataFrame, vec: String): Option[Int] =
    emb.where(col(vec).isNotNull && size(col(vec)) > 0)
      .select(size(col(vec)).as("d")).head(1).headOption.map(_.getInt(0))

  /** Sign-bucket column: bit p set iff dot(v, hyperplane_p) > 0.
    * Each projection is one codegen dot against a literal weight row —
    * per-row column math, no explode, no shuffle. `firstPlane` selects
    * which global hyperplanes form this bucket (OR-amplified blocking
    * uses disjoint plane groups per band).
    */
  private def bucketCol(vd: Column, planes: Int, d: Int, firstPlane: Int = 0): Column = {
    val w = planeWeights(firstPlane + planes, d)
    (0 until planes).map { p =>
      when(VectorMath.dot(vd, typedlit(w(firstPlane + p).toSeq)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Sign-LSH bucket id from `planes` hyperplanes. Null/empty vectors
    * produce no row (matching the explode-based formulation this
    * replaced — they must not congregate in a real bucket).
    */
  def lshBucket(emb: DataFrame, planes: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val usable = emb.where(col(vec).isNotNull && size(col(vec)) > 0)
    vecDim(emb, vec) match {
      case Some(d) =>
        usable.select(col(id), bucketCol(toDouble(col(vec)), planes, d).as("bucket"))
      case None =>
        usable.select(col(id), lit(0L).as("bucket")) // provably empty
    }
  }

  /** Plane count that holds expected bucket occupancy ~`targetOccupancy`
    * as the corpus grows: `max(floor, ceil(log2(n / target)))`, capped
    * at the 62-bit bucket mask. With FIXED planes the per-bucket
    * candidate join is quadratic in occupancy ~ n/2^planes — measured
    * 8.1x wall at 10x data (BASELINE round 7). Growing planes with
    * log2(n) pins occupancy, making the join work ~n * target per
    * band — linear. `target <= 0` disables auto (the explicit
    * override path: you get exactly `floor` planes).
    *
    * NOTE more planes LOWER per-band collision probability
    * (1-theta/pi)^planes — recall at a given band count drops as auto
    * raises planes. That is the correct trade (the alternative is a
    * quadratic join), and the OR-amplification formula stays exact for
    * whatever planes was chosen; raise `bands` alongside corpus size
    * when recall matters (RecallSpec pins both regimes).
    */
  private[ops] def autoPlanes(n: Long, floor: Int, targetOccupancy: Int): Int =
    if (targetOccupancy <= 0 || n <= 0) floor
    else {
      val needed = math.ceil(
        math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt
      math.min(62, math.max(floor, needed))
    }

  /** Auto-sized centroid count for the IVF family — the same APPLIED
    * discipline as [[autoPlanes]]: with fixed nCentroids, cell
    * occupancy (~N/C) grows linearly in the corpus and the
    * within-cell candidate join quadratically — measured 4.0× (p13) /
    * 5.0× (p59) at 10× data with C = 8. Deriving C from a corpus
    * count bounds occupancy at `targetOccupancy`:
    * C = max(floor, ceil(n / targetOccupancy)), capped at 4096 (the
    * codebook is a driver-side collect and a per-row literal ranking;
    * the documented hash-sample fit covers corpus-scale fits long
    * before the cap binds). The floor dominates at every
    * oracle-checked size, so the unrolled-SQL k-means twins stay
    * bit-exact where checked. The INCREMENTAL path keeps its
    * persisted codebook's C by design — auto-sizing there would churn
    * the saved cell space on every batch.
    */
  private[ops] def autoCentroids(n: Long, floor: Int,
      targetOccupancy: Int): Int =
    if (targetOccupancy <= 0 || n <= 0) floor
    else math.min(4096,
      math.max(floor, math.ceil(n.toDouble / targetOccupancy).toInt))

  /** Usable-vector count for auto-sizing (paid once when the caller
    * passes a known `corpusCount`, mirroring [[lshCosineTopK]]).
    */
  private[ops] def sizingCount(emb: DataFrame, vec: String,
      corpusCount: Long): Long =
    if (corpusCount >= 0L) corpusCount
    else emb.where(col(vec).isNotNull && size(col(vec)) > 0).count()

  /** Approximate cosine top-k: exact ranking within sign-LSH buckets.
    * The bucket id is per-row column math (literal hyperplanes), so the
    * two self-join sides just recompute the cheap scan; the join
    * shuffles both sides by bucket — each bucket's exact ranking
    * co-locates on one executor.
    *
    * `planes` is the FLOOR: the chosen plane count auto-scales up with
    * the corpus (see [[autoPlanes]]) so bucket occupancy — and with it
    * the within-bucket join fan-out — stays bounded at any n. Pass
    * `targetOccupancy = 0` to force exactly `planes`.
    */
  def lshCosineTopK(emb: DataFrame, k: Int, planes: Int = 8, bands: Int = 1,
      id: String = "vec_id", vec: String = "embedding",
      targetOccupancy: Int = 256, corpusCount: Long = -1L): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1,62] (bucket is a long bitmask), got $planes")
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val d = vecDim(emb, vec).getOrElse(0) // 0 only when no usable vectors -> empty below
    // the auto-plane count needs the corpus size: one column-pruned
    // count of the usable vectors (metadata-cheap next to the
    // candidate join it is sizing); callers invoking several LSH ops
    // on one frame pass a known `corpusCount` to pay it once
    val p =
      if (targetOccupancy <= 0) planes
      else autoPlanes(
        if (corpusCount >= 0L) corpusCount
        else emb.where(col(vec).isNotNull && size(col(vec)) > 0).count(),
        planes, targetOccupancy)
    val base = spread(emb
      .where(col(vec).isNotNull && size(col(vec)) > 0)
      .select(col(id), toDouble(col(vec)).as("__v")))
      .withColumn("__n", VectorMath.norm(col("__v")))
      .where(col("__n") > 0.0)
    // OR-amplification over disjoint hyperplane groups (bands = 1 is
    // plain single-bucketing LSH): a neighbor at angle theta co-buckets
    // in one `p`-bit band w.p. (1-theta/pi)^p and survives
    // ANY band w.p. 1-(1-(1-theta/pi)^p)^bands — bands buy recall,
    // planes bound per-band bucket occupancy (fan-out ~ N/2^p).
    // Single-band 8-plane recall@5 is ~2% on a mid-angle (cos~0.4)
    // corpus (RecallSpec pins it); real retrieval wants bands >= 4.
    val bandedPlan = (0 until bands).map { band =>
      base.withColumn("band", lit(band))
        .withColumn("bucket", bucketCol(col("__v"), p, d, band * p))
    }.reduce(_ unionByName _)
    // both join sides reference the banded frame; for multi-band runs
    // materialize it once (eager — same AQE concurrent-recompute
    // rationale and executor-loss trade as Dedup.minhashDupPairs)
    val banded = if (bands == 1) bandedPlan else bandedPlan.localCheckpoint(true)
    val a = banded.select(col(id).as("query_id"), col("__v").as("va"),
      col("__n").as("na"), col("band"), col("bucket"))
    val b = banded.select(col(id).as("neighbor_id"), col("__v").as("vb"),
      col("__n").as("nb"), col("band"), col("bucket"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
    // a pair co-bucketed by several bands carries identical cosines;
    // collapse before ranking so rank counts each neighbor once. With
    // one band a pair occurs at most once — skip the extra exchange.
    val collapsed =
      if (bands == 1) pairs
      else pairs.groupBy(col("query_id"), col("neighbor_id")).agg(min(col("cosine")).as("cosine"))
    rankTopK(collapsed, k)
  }

  /** Deterministic spherical k-means codebook (the real IVF codebook;
    * Lloyd iterations as DataFrame aggregations):
    *  - init: the `nCentroids` vectors with the smallest
    *    (hex64(id as string), id) — a seeded pseudo-random draw both
    *    engines replay, immune to "the lowest ids all live in one
    *    dense region" (the previous smallest-id stand-in's skew mode);
    *  - each round: assign every vector to its highest-cosine centroid
    *    (ties to the lowest centroid id — same struct-sort as probing),
    *    recompute centroids as element-wise means via d parallel
    *    `avg(element_at)` aggregate columns (map-side partials, one
    *    |cells|-row shuffle, no N×d explode);
    *  - cells that lose all members or average to the zero vector drop.
    *
    * 100 TB: each round is one aggregation over the corpus; fit the
    * codebook on a deterministic hash-sample ([[Sampling]]) when N is
    * corpus-scale — the assignment step is the only full pass needed.
    * Floating-point note: `avg` partial-aggregation order perturbs
    * centroid coordinates at the last-ulp level, so every Lloyd round
    * ROUNDS the updated coordinates to 6 dp (HALF_UP; the oracle's
    * round(avg, 6) twins it) before they feed the next assignment —
    * engine/run aggregation-order drift is quantized away instead of
    * relying on a no-near-tie assumption. The grid is 6 dp because the
    * two engines round differently AT the grid boundary (float-multiply
    * vs exact decimal — see the in-body comment); the coarser grid
    * makes boundary coincidence ~1e-10 per coordinate.
    */
  private[ops] def fitCodebookKMeans(emb: DataFrame, nCentroids: Int, iters: Int,
      id: String, vec: String, fitSamplePct: Int = 100): Seq[(Int, Seq[Double], Double)] = {
    require(fitSamplePct >= 1 && fitSamplePct <= 100,
      s"fitSamplePct must be in [1,100], got $fitSamplePct")
    // at corpus scale the codebook fits on a deterministic hash-sample
    // (centroid quality needs thousands of vectors per cell, not the
    // corpus) — the full table only pays the final assignment pass
    val fitInput =
      if (fitSamplePct >= 100) emb
      else Sampling.bernoulliByHash(emb, col(id), fitSamplePct)
    // spread before caching: the testdata-shaped single-split input
    // would otherwise run EVERY Lloyd round's assignment+aggregate on
    // one task (the p20/p27/p36 single-split trap, here multiplied by
    // the round count); the 6-dp quantization below already absorbs
    // the partial-order drift a different partitioning introduces
    val vs = withNorm(fitInput, id, vec, "vid", "v", "nrm")
      .repartition(emb.sparkSession.sparkContext.defaultParallelism, col("vid"))
      .cache()
    try {
      val seedRows = vs
        .withColumn("__h", Hashing.hex64(col("vid").cast("string")))
        .orderBy(col("__h").asc, col("vid").asc)
        .limit(nCentroids)
        .select(col("v"), col("nrm")).collect()
      var cents = seedRows.zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Double](0), r.getDouble(1))
      }.toSeq.filter(_._3 > 0)
      if (cents.isEmpty) return Seq.empty
      val d = cents.head._2.length
      for (_ <- 1 to iters) {
        // same compact ranked expression as the query-side assignment
        // (TopKCentroidEntries at k = 1): byte-identical ns math and
        // tie order to the unrolled struct-sort this replaces
        val assigned = vs.withColumn("cell",
          VectorMath.topKCentroids(col("v"), col("nrm"), cents, 1)
            .getItem(0).getField("cid"))
        val aggs = (1 to d).map(j => avg(element_at(col("v"), j)).as(s"m_$j"))
        cents = assigned.groupBy("cell").agg(aggs.head, aggs.tail: _*).collect()
          .toSeq.map { r =>
            // 6-dp quantization (HALF_UP, twinned with round(avg,6) in
            // the DuckDB oracle): kills the ulp-level partial-agg order
            // drift before it can flip a near-tie assignment next
            // round. 6 dp, not 12: DuckDB's round() goes through a
            // x*10^s float multiply whose ~0.5-ulp product error can
            // cross a .5 boundary that exact-decimal BigDecimal does
            // not — at scale 12 that window is ~1e-4 of the grid per
            // coordinate, at scale 6 it is ~1e-10, i.e. negligible
            // across dims x centroids x rounds. A 1e-6 centroid grid
            // is still ~9 orders coarser than the drift being removed
            // and immaterial to codebook quality.
            val m = (1 to d).map { j =>
              BigDecimal(r.getAs[Double](s"m_$j"))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            }
            (r.getAs[Int]("cell"), m, math.sqrt(m.map(x => x * x).sum))
          }
          .filter(_._3 > 0)
          .sortBy(_._1)
      }
      cents
    } finally vs.unpersist()
  }

  /** IVF (inverted-file) coarse quantization: each vector ranks the
    * codebook's centroid vectors by cosine (ties to the lowest
    * centroid id). `codebook` picks the centroids:
    *  - "kmeans" (default): [[fitCodebookKMeans]], 3 Lloyd rounds;
    *  - "minid": the `nCentroids` vectors with the smallest ids — the
    *    zero-training stand-in (unbounded cell skew when low ids
    *    cluster; kept for comparison and as IvfCodebookSpec's baseline).
    *
    * The codebook is tiny (nCentroids vectors), so it is COLLECTED and
    * inlined as literals: each row computes its nCentroids cosines and
    * sorts a nCentroids-element struct array in place — per-row column
    * math replacing the previous N x nCentroids row explosion + window
    * shuffle (which also needed an eager checkpoint to avoid double
    * computation; this form is cheap enough to just recompute per
    * reference). Emits ranks 1..maxRank.
    * Returns (idOut, vecOut, normOut, cell, __rk).
    */
  /** struct(-sim, cid) sorted ascending = sim descending, cid
    * ascending; `+ 0.0` normalizes -0.0 so a zero cosine ties
    * identically to SQL. cid literal keeps the cell id's own type
    * (string ids included). ONE builder serves every codebook — the
    * scoring expression must stay identical between them (and to the
    * oracle).
    */
  private def centroidEntry(vecOut: String, normOut: String)(
      cid: Any, cv: Seq[Double], cn: Double): Column =
    struct(
      ((VectorMath.dot(col(vecOut), typedlit(cv)) / (col(normOut) * lit(cn))) * -1.0
        + 0.0).as("ns"),
      lit(cid).as("cid"))

  private[ops] def ivfRankedCells(emb: DataFrame, nCentroids: Int, maxRank: Int,
      id: String, vec: String,
      idOut: String, vecOut: String, normOut: String,
      codebook: String = "kmeans", fitSamplePct: Int = 100,
      extra: Seq[(String, String)] = Nil,
      prefit: Option[Seq[(Int, Seq[Double], Double)]] = None): DataFrame = {
    val vs = withNorm(emb, id, vec, idOut, vecOut, normOut, extra)
    // the kmeans/prefit paths carry integer cids and rank through ONE
    // compact expression (TopKCentroidEntries: plan size O(1) in the
    // centroid count instead of C unrolled dot subtrees — the
    // NearestL2Entry discipline generalized to ranked-k cosine); the
    // "minid" stand-in keeps id-typed cells and the unrolled form
    val ranked: Option[Column] = prefit match {
      case Some(cb) =>
        // caller already fit (and typically also needs the centroid
        // VECTORS — residual PQ); skip the internal refit
        if (cb.isEmpty) None
        else Some(VectorMath.topKCentroids(col(vecOut), col(normOut), cb, maxRank))
      case None => codebook match {
        case "kmeans" =>
          val cb = fitCodebookKMeans(emb, nCentroids, iters = 3, id, vec, fitSamplePct)
          if (cb.isEmpty) None
          else Some(VectorMath.topKCentroids(col(vecOut), col(normOut), cb, maxRank))
        case "minid" =>
          // by NAME, not position: extra carried columns (labels) sit
          // between the vector and the norm in the row
          val entry = centroidEntry(vecOut, normOut) _
          val entries = vs.orderBy(col(idOut).asc).limit(nCentroids).collect().toSeq
            .map(r => entry(r.get(r.fieldIndex(idOut)),
              r.getSeq[Double](r.fieldIndex(vecOut)),
              r.getAs[Double](normOut)))
          if (entries.isEmpty) None
          else Some(slice(sort_array(array(entries: _*)), 1, maxRank))
        case other => throw new IllegalArgumentException(
          s"codebook must be kmeans|minid, got $other")
      }
    }
    if (ranked.isEmpty) // no usable vectors: empty result, id-typed cell
      return vs.withColumn("cell", col(idOut)).withColumn("__rk", lit(1))
        .where(lit(false))
    val carried = extra.map { case (_, out) => col(out) }
    spread(vs)
      .select(col(idOut) +: col(vecOut) +: col(normOut) +: carried :+
        posexplode(ranked.get).as(Seq("__p", "__s")): _*)
      .select(col(idOut) +: col(vecOut) +: col(normOut) +: carried :+
        col("__s.cid").as("cell") :+ ((col("__p") + 1).as("__rk")): _*)
  }

  /** Cell assignment view of the IVF quantizer: (id, cell) — the rank-1
    * cell per vector. Exposed for occupancy/skew inspection and tests.
    */
  def ivfAssignments(emb: DataFrame, nCentroids: Int,
      codebook: String = "kmeans", fitSamplePct: Int = 100,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    ivfRankedCells(emb, nCentroids, maxRank = 1, id, vec, "vid", "v", "nrm", codebook, fitSamplePct)
      .where(col("__rk") === 1)
      .select(col("vid").as(id), col("cell"))

  /** Embedding-space drift (a19) — [[graft.ops.Drift]]'s PSI with the
    * fitted IVF cells as the categories: the coarse quantizer is fit
    * on the REFERENCE corpus only, BOTH corpora rank-1 assign against
    * those frozen centroids, and the per-cell occupancy shift is the
    * PSI decomposition. Drift in embedding space moves occupancy
    * between cells long before any scalar statistic moves — the
    * monitor that says "refit the index / re-embed before serving".
    * Emits one row per fitted cell (the category spine, so a cell
    * emptied on both sides still reports).
    *
    * 100 TB: one fit (hash-sampleable) + one map pass per corpus
    * against C literal centroids + two ≤C-row count aggregations;
    * nothing holds more than the cell table.
    */
  def embeddingDriftPsi(reference: DataFrame, current: DataFrame,
      nCentroids: Int = 8, id: String = "vec_id",
      vec: String = "embedding", fitSamplePct: Int = 100): DataFrame = {
    val cb = fitCodebook(reference, nCentroids, id, vec, fitSamplePct)
    require(cb.nonEmpty, "reference codebook fit produced no centroids")
    def cellsOf(df: DataFrame): DataFrame =
      ivfRankedCells(df, nCentroids, maxRank = 1, id, vec, "vid", "v", "nrm",
        prefit = Some(cb))
        .where(col("__rk") === 1)
        .select(col("cell").cast("long").as("cell"))
    val spark = reference.sparkSession
    import spark.implicits._
    val spine = cb.map(_._1.toLong).toDF("cell")
    Drift.psiByCategory(cellsOf(reference), cellsOf(current), "cell", spine)
  }

  /** First-class k-means clustering summary — the corpus "data map"
    * a curation pipeline publishes (cluster sizes for mixture audits,
    * cohesion for picking C, the SemDeDup/Nomic-atlas shape): fit the
    * p13 coarse codebook (3 deterministic Lloyd rounds, hex64 seeds),
    * assign every vector to its nearest centroid by spherical cosine,
    * and emit one audit row per cluster:
    * (cell, n_vectors, mean_cosine — within-cluster cohesion on the
    * 6-dp grid — and centroid_norm).
    *
    * 100 TB: the fit is the documented hash-sample path; assignment
    * is one map pass against C literal centroids; the aggregation is
    * map-side-combined to ≤ C rows. mean_cosine rounds to 6 dp AFTER
    * an order-dependent double sum — the m$k-round discipline: drift
    * is ~1e-15 against a 1e-6 grid (the standing coincidence budget).
    */
  def clusterStats(emb: DataFrame, nCentroids: Int = 8,
      id: String = "vec_id", vec: String = "embedding",
      fitSamplePct: Int = 100, targetOccupancy: Int = 1024,
      corpusCount: Long = -1L): DataFrame = {
    val c = if (targetOccupancy <= 0) nCentroids
      else autoCentroids(sizingCount(emb, vec, corpusCount), nCentroids,
        targetOccupancy)
    val cb = fitCodebook(emb, c, id, vec, fitSamplePct)
    require(cb.nonEmpty, "codebook fit produced no centroids")
    // literal centroid tables indexed cid+1 (dropped-cid slots padded
    // with zero vectors no assignment references — the Pq discipline)
    val d = cb.head._2.length
    val byCid = cb.map { case (cid, cv, cn) => cid -> (cv, cn) }.toMap
    val maxCid = cb.map(_._1).max
    val cvLit = typedlit((0 to maxCid).map(i =>
      byCid.get(i).map(_._1).getOrElse(Seq.fill(d)(0.0))))
    val cnLit = typedlit((0 to maxCid).map(i =>
      byCid.get(i).map(_._2).getOrElse(0.0)))
    ivfRankedCells(emb, c, maxRank = 1, id, vec, "vid", "v", "nrm",
        prefit = Some(cb))
      .where(col("__rk") === 1)
      .withColumn("__cos",
        VectorMath.dot(col("v"), element_at(cvLit, col("cell") + 1)) /
          (col("nrm") * element_at(cnLit, col("cell") + 1)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("__cos")), 6).as("mean_cosine"),
        round(first(element_at(cnLit, col("cell") + 1)), 6).as("centroid_norm"))
  }

  /** IVF approximate cosine top-k: queries probe their `nProbe` nearest
    * centroid cells and rank exactly within the union of those cells'
    * inverted lists.
    *
    * 100 TB shape: the cell id is the shuffle key — each cell's list
    * co-locates, the probe join is an equi-join on `cell`, and fan-out
    * is bounded by list occupancy (~N/nCentroids x nProbe per query).
    * Recall/cost trades by nProbe exactly as in FAISS-style IVF-Flat.
    */
  def ivfCosineTopK(emb: DataFrame, k: Int, nCentroids: Int = 8, nProbe: Int = 2,
      id: String = "vec_id", vec: String = "embedding",
      codebook: String = "kmeans", fitSamplePct: Int = 100,
      targetOccupancy: Int = 1024, corpusCount: Long = -1L): DataFrame = {
    // nCentroids is the FLOOR: the chosen count auto-scales with the
    // corpus ([[autoCentroids]]) so cell occupancy stays bounded; pass
    // targetOccupancy = 0 to force exactly nCentroids
    val c = if (targetOccupancy <= 0) nCentroids
      else autoCentroids(sizingCount(emb, vec, corpusCount), nCentroids,
        targetOccupancy)
    val cells = ivfRankedCells(emb, c, math.max(1, nProbe), id, vec,
      "vid", "v", "nrm", codebook, fitSamplePct)
    val lists = cells.where(col("__rk") === 1)
      .select(col("vid").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb"),
        col("cell"))
    val probes = cells.where(col("__rk") <= nProbe)
      .select(col("vid").as("query_id"), col("v").as("va"), col("nrm").as("na"),
        col("cell"))
    val pairs = probes.join(lists, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
    rankTopK(pairs, k)
  }

  /** Exact brute-force hard negatives — the labeled twin of
    * [[cosineTopK]]: per anchor, the k most cosine-similar vectors
    * with a DIFFERENT label, ranked over ALL wrong-label pairs.
    * O(N²·d): a quality oracle (it defines the recall target
    * RecallSpec floors [[ivfHardNegatives]] against), not a scale
    * path — the scale path is the IVF form.
    */
  def hardNegativesTopK(emb: DataFrame, k: Int, id: String = "vec_id",
      vec: String = "embedding", label: String = "label"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = spread(withNorm(emb, id, vec, "query_id", "va", "na",
      Seq(label -> "query_label")))
    val b = withNorm(emb, id, vec, "neighbor_id", "vb", "nb",
      Seq(label -> "neighbor_label"))
    val pairs = a.join(broadcast(b), col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine",
        VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"), col("rank"))
  }

  /** Contrastive hard-negative mining over a labeled embedding table:
    * for every anchor, the k most cosine-similar vectors with a
    * DIFFERENT label — the pair-construction step of contrastive /
    * metric-learning training data (and of reranker curricula). Runs
    * on the [[ivfCosineTopK]] machinery with the label riding the
    * inverted lists, so candidates stay an equi-join on `cell` and the
    * label filter prunes BEFORE ranking — a hard negative is the
    * nearest wrong-label vector among the probed cells, not a
    * post-filter of the unlabeled top-k (which can starve anchors
    * whose true top-k is all same-label).
    *
    * 100 TB shape identical to p13: cell-keyed shuffle, fan-out
    * bounded by list occupancy × nProbe; recall trades by nProbe.
    */
  def ivfHardNegatives(emb: DataFrame, k: Int, nCentroids: Int = 8,
      nProbe: Int = 2, id: String = "vec_id", vec: String = "embedding",
      label: String = "label", codebook: String = "kmeans",
      fitSamplePct: Int = 100, targetOccupancy: Int = 1024,
      corpusCount: Long = -1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = if (targetOccupancy <= 0) nCentroids
      else autoCentroids(sizingCount(emb, vec, corpusCount), nCentroids,
        targetOccupancy)
    val cells = ivfRankedCells(emb, c, math.max(1, nProbe), id, vec,
      "vid", "v", "nrm", codebook, fitSamplePct, extra = Seq(label -> "__lab"))
    val lists = cells.where(col("__rk") === 1)
      .select(col("vid").as("neighbor_id"), col("v").as("vb"),
        col("nrm").as("nb"), col("__lab").as("neighbor_label"), col("cell"))
    val probes = cells.where(col("__rk") <= nProbe)
      .select(col("vid").as("query_id"), col("v").as("va"),
        col("nrm").as("na"), col("__lab").as("query_label"), col("cell"))
    val pairs = probes.join(lists, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine",
        VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"), col("rank"))
  }

  /** Cell ranking against a GIVEN codebook — the assignment half of
    * IVF split out so an EXISTING index's codebook (persisted via
    * [[saveCodebook]]) can assign new vectors without refitting.
    */
  private def rankedCellsWithCodebook(emb: DataFrame,
      cb: Seq[(Int, Seq[Double], Double)], maxRank: Int,
      id: String, vec: String,
      idOut: String, vecOut: String, normOut: String): DataFrame = {
    val vs = withNorm(emb, id, vec, idOut, vecOut, normOut)
    if (cb.isEmpty)
      return vs.withColumn("cell", col(idOut)).withColumn("__rk", lit(1))
        .where(lit(false))
    spread(vs)
      .select(col(idOut), col(vecOut), col(normOut),
        posexplode(VectorMath.topKCentroids(col(vecOut), col(normOut), cb, maxRank))
          .as(Seq("__p", "__s")))
      .select(col(idOut), col(vecOut), col(normOut),
        col("__s.cid").as("cell"), (col("__p") + 1).as("__rk"))
  }

  /** Fit an IVF codebook for external persistence. */
  def fitCodebook(emb: DataFrame, nCentroids: Int,
      id: String = "vec_id", vec: String = "embedding",
      fitSamplePct: Int = 100): Seq[(Int, Seq[Double], Double)] =
    fitCodebookKMeans(emb, nCentroids, iters = 3, id, vec, fitSamplePct)

  /** Persist/restore a codebook as a tiny parquet table — the index
    * state a daily ANN pipeline reads back instead of refitting
    * (|centroids| rows; the norms are re-derived on load so the file
    * carries no redundant — and potentially inconsistent — state).
    */
  def saveCodebook(spark: org.apache.spark.sql.SparkSession, path: String,
      cb: Seq[(Int, Seq[Double], Double)]): Unit = {
    import spark.implicits._
    cb.map { case (cid, cv, _) => (cid, cv) }.toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Double], Double)] =
    spark.read.parquet(path).collect().toSeq
      .map { r =>
        val cv = r.getSeq[Double](r.fieldIndex("cv"))
        (r.getInt(r.fieldIndex("cid")), cv, math.sqrt(cv.map(x => x * x).sum))
      }
      .sortBy(_._1)

  /** Incremental IVF: new-batch vectors query an EXISTING index — the
    * corpus's codebook and its rank-1 inverted lists — with only the
    * batch computing cell ranks (the p38 incremental contract applied
    * to ANN).
    *
    * The production shape passes `codebook = Some(...)` (fit once via
    * [[fitCodebook]], persisted via [[saveCodebook]]/[[loadCodebook]]):
    * then the corpus pays only its one-off list assignment, never a
    * refit. The `None` default is the self-contained convenience form —
    * it REFITS the codebook from the corpus on every call (the shape an
    * oracle replay needs), so its cost includes the k-means pass the
    * persisted-state path amortizes away.
    *
    * Scale: the batch's cell assignment is per-row math against the
    * broadcast-literal codebook; the probe join shuffles batch-side
    * probes and corpus lists on the cell key only.
    */
  def ivfCosineTopKIncremental(corpus: DataFrame, batch: DataFrame, k: Int,
      nCentroids: Int = 8, nProbe: Int = 2,
      id: String = "vec_id", vec: String = "embedding",
      codebook: Option[Seq[(Int, Seq[Double], Double)]] = None): DataFrame = {
    val cb = codebook.getOrElse(
      fitCodebookKMeans(corpus, nCentroids, iters = 3, id, vec))
    rankTopK(ivfCandidatePairs(corpus, batch, cb, nProbe, id, vec), k)
  }

  /** The scored (query, candidate) pair frame of the incremental IVF —
    * ONE definition shared by [[ivfCosineTopKIncremental]] (batch
    * ranker) and the streaming ANN serving monitor (x30), so the two
    * executions cannot drift. The query side may be a STREAMING
    * frame: its cell ranking is per-row math against the literal
    * codebook, and the candidate step is a stream-static equi-join on
    * `cell` — the only wide op, fan-out bounded by occupancy × nProbe.
    */
  def ivfCandidatePairs(corpus: DataFrame, queries: DataFrame,
      cb: Seq[(Int, Seq[Double], Double)], nProbe: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(cb.nonEmpty, "empty codebook")
    val lists = rankedCellsWithCodebook(corpus, cb, maxRank = 1,
      id, vec, "vid", "v", "nrm")
      .where(col("__rk") === 1)
      .select(col("vid").as("neighbor_id"), col("v").as("vb"),
        col("nrm").as("nb"), col("cell"))
    val probes = rankedCellsWithCodebook(queries, cb, math.max(1, nProbe),
      id, vec, "vid", "v", "nrm")
      .where(col("__rk") <= nProbe)
      .select(col("vid").as("query_id"), col("v").as("va"),
        col("nrm").as("na"), col("cell"))
    probes.join(lists, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space with the SAME deterministic spherical k-means
    * codebook as [[ivfCosineTopK]], then compare pairs ONLY within a
    * cluster — the observation that semantic duplicates land in the
    * same cluster, so the corpus-wide pair space never materializes.
    * Emits one verdict per vector: its cell and `keep` (false iff a
    * SMALLER-id near-identical mate was seen at cosine >= tau — the
    * repo's deterministic keep-smallest greedy, same as the SimHash
    * funnel stage; the paper's keep-farthest-from-centroid policy is a
    * one-line `max_by` swap on the same pair frame). `nProbe` > 1
    * additionally compares each vector against its nProbe closest
    * cells' members — the IVF recall knob applied to dedup, for the
    * pairs that straddle a cell boundary (RecallSpec measures the
    * lift).
    *
    * 100 TB shape: cell assignment is per-row math against the literal
    * codebook; the only wide op is the within-cell equi-join, whose
    * cost is Σ|cell|² — bounded by fitting nCentroids ~ N/targetCell
    * exactly as the paper scales k (and as p13 scales probe cost). No
    * global pair join exists in the plan.
    */
  /** Probe width derived from the dedup threshold: a pair at cosine
    * >= tau spans at most acos(tau) radians, and the chance its
    * endpoints rank different cells first grows with that angular
    * spread — so probe one extra cell per ~30 degrees of allowed
    * spread: `max(1, ceil(acos(tau) / (pi/6)))`. The production
    * SemDeDup regime (tau ~0.95, spread <= 18 degrees) collapses to
    * rank-1-only probing — the paper's own configuration — while
    * permissive thresholds (tau 0.45 ~ 63 degrees) probe 3 cells.
    * This makes the documented knob the default behavior instead of
    * advice: the recall a user GETS at their tau is the recall the
    * floor pins, at any threshold (RecallSpec holds both regimes).
    */
  def autoProbe(tau: Double): Int = {
    val spread = math.acos(math.max(-1.0, math.min(1.0, tau)))
    math.max(1, math.ceil(spread / (math.Pi / 6)).toInt)
  }

  def semanticDedup(emb: DataFrame, tau: Double, nCentroids: Int = 8,
      nProbe: Int = 0,
      id: String = "vec_id", vec: String = "embedding",
      targetOccupancy: Int = 1024, corpusCount: Long = -1L): DataFrame = {
    // nProbe = 0 (the default) derives the probe width from tau
    // ([[autoProbe]]); an explicit value overrides
    val probe = if (nProbe <= 0) autoProbe(tau) else nProbe
    val c = if (targetOccupancy <= 0) nCentroids
      else autoCentroids(sizingCount(emb, vec, corpusCount), nCentroids,
        targetOccupancy)
    val ranked = ivfRankedCells(emb, c, math.max(1, probe), id, vec,
      "vid", "v", "nrm", "kmeans", 100)
    val cells = ranked.where(col("__rk") === 1)
      .select(col("vid"), col("cell"))
    // probe amplification (the recall knob, exactly IVF's): each
    // vector also compares against the members of its nProbe
    // closest cells, so a dup pair straddling a cell boundary is
    // still seen when EITHER endpoint probes the other's cell —
    // RecallSpec measures the lift over the rank-1-only restriction
    val lists = ranked.where(col("__rk") === 1)
      .select(col("vid").as("id_l"), col("v").as("vl"),
        col("nrm").as("nl"), col("cell"))
    val probes = ranked.where(col("__rk") <= math.max(1, probe))
      .select(col("vid").as("id_p"), col("v").as("vp"),
        col("nrm").as("np"), col("cell"))
    val dropped = probes.join(lists, Seq("cell"))
      .where(col("id_p") =!= col("id_l"))
      .withColumn("cosine", VectorMath.dot(col("vp"), col("vl")) / (col("np") * col("nl")))
      .where(col("cosine") >= tau)
      .select(greatest(col("id_p"), col("id_l")).as("vid")).distinct()
      .withColumn("__dropped", lit(true))
    cells.join(dropped, Seq("vid"), "left")
      .select(col("vid").as(id), col("cell").cast("long").as("cell"),
        coalesce(!col("__dropped"), lit(true)).as("keep"))
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= tau)
    * — exact all-pairs quality oracle; [[cosineDupPairsBlocked]] is the
    * scale path.
    */
  def cosineDupPairs(emb: DataFrame, tau: Double,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val a = spread(withNorm(emb, id, vec, "id_a", "va", "na"))
    val b = withNorm(emb, id, vec, "id_b", "vb", "nb")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine", VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cosine") >= tau)
      .select("id_a", "id_b", "cosine")
  }

  /** Per-vector symmetric int8 quantization — the storage/ANN-index
    * preprocessing step: scale = max|v_i| / 127, codes q_i =
    * round(v_i / scale) in [-127, 127], reconstruction v̂_i = q_i·scale.
    * Pure per-row column math (one pass for the scale, one for codes +
    * error), no shuffle; zero vectors quantize to all-zero codes with
    * scale 0. Returns (id, scale, q_sum, mse): the code-sum is a
    * content check the oracle can replay exactly (round() is
    * half-away-from-zero on BOTH engines), mse is the mean squared
    * reconstruction error the quality gate watches.
    */
  def quantizeInt8(emb: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    emb.where(col(vec).isNotNull && size(col(vec)) > 0)
      .select(col(id), toDouble(col(vec)).as("__v"))
      .withColumn("__scale",
        aggregate(col("__v"), lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0)
      .withColumn("__q",
        when(col("__scale") === 0.0, transform(col("__v"), _ => lit(0L)))
          .otherwise(transform(col("__v"), x =>
            greatest(lit(-127L),
              least(lit(127L), round(x / col("__scale"), 0).cast("long"))))))
      .select(col(id), col("__scale").as("scale"),
        aggregate(col("__q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        (aggregate(zip_with(col("__v"), col("__q"),
            (x, qi) => pow(x - qi.cast("double") * col("__scale"), 2.0)),
          lit(0.0), (acc, e) => acc + e) / size(col("__v"))).as("mse"))

  /** LSH-BLOCKED embedding near-dup pairs — the scale path for
    * [[cosineDupPairs]]: `bands` independent sign-LSH bucketings over
    * disjoint hyperplane groups (OR-amplification, the sign-LSH analog
    * of MinHash banding); vectors pair when ANY band co-buckets them,
    * then gate on exact cosine >= tau. A pair at angle theta survives
    * one band with probability (1 - theta/pi)^planes, and misses all
    * bands with (1 - (1-theta/pi)^planes)^bands — bands raise recall,
    * planes bound each band's bucket occupancy (join fan-out). Fully
    * deterministic — the oracle replays the blocking bit-for-bit.
    *
    * Scale shape: the banded frame is band-tagged rows of the one
    * vector scan; the candidate join shuffles on (band, bucket); the
    * per-band duplicate hits collapse in the same aggregation that
    * gates on cosine (computed once per pair via min over identical
    * values, not once per band).
    */
  def cosineDupPairsBlocked(emb: DataFrame, tau: Double, planes: Int = 4,
      bands: Int = 3, id: String = "vec_id", vec: String = "embedding",
      targetOccupancy: Int = 256, corpusCount: Long = -1L): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1,62] (bucket is a long bitmask), got $planes")
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val d = vecDim(emb, vec).getOrElse(0)
    // `planes` is the floor; the chosen count grows ~log2(n) to pin
    // bucket occupancy (see [[autoPlanes]] — the p25 scale fix);
    // a known `corpusCount` skips the sizing count
    val p =
      if (targetOccupancy <= 0) planes
      else autoPlanes(
        if (corpusCount >= 0L) corpusCount
        else emb.where(col(vec).isNotNull && size(col(vec)) > 0).count(),
        planes, targetOccupancy)
    val base = spread(emb
      .where(col(vec).isNotNull && size(col(vec)) > 0)
      .select(col(id), toDouble(col(vec)).as("__v")))
      .withColumn("__n", VectorMath.norm(col("__v")))
      .where(col("__n") > 0.0)
    val bandedPlan = (0 until bands).map { band =>
      base.withColumn("band", lit(band))
        .withColumn("bucket", bucketCol(col("__v"), p, d, band * p))
    }.reduce(_ unionByName _)
    // same double-reference materialization as lshCosineTopK: both
    // join sides read the banded frame
    val banded = if (bands == 1) bandedPlan else bandedPlan.localCheckpoint(true)
    val a = banded.select(col(id).as("id_a"), col("__v").as("va"),
      col("__n").as("na"), col("band"), col("bucket"))
    val b = banded.select(col(id).as("id_b"), col("__v").as("vb"),
      col("__n").as("nb"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorMath.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cosine") >= tau)
      // a pair co-bucketed by several bands appears once
      .groupBy(col("id_a"), col("id_b")).agg(min(col("cosine")).as("cosine"))
  }
}
