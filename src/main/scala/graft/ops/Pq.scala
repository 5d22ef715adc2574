package graft.ops

import graft.functions.VectorMath
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Product quantization (PQ) over an embedding column — the memory
  * half of the ANN family: [[Similarity]] prunes WHICH vectors a query
  * compares against (IVF cells, LSH buckets); PQ shrinks WHAT each
  * comparison costs. A d-dim float vector becomes m small integer
  * codes (one per subspace, each indexing a ksub-entry per-subspace
  * codebook), and approximate distances are computed code-side without
  * ever touching the original floats — at 100 TB the candidate lists
  * hold m bytes per vector instead of 4d, which is the difference
  * between an in-memory index and a disk-bound one.
  *
  * Reference scope: the reference engine has no vector search at all
  * (SURVEY.md §2 — correlation statistics only); this module is part
  * of the engine's LLM-pipeline extension surface alongside
  * [[Similarity]].
  *
  * Design decisions, twinned with the DuckDB oracle:
  *  - Per-subspace k-means is EUCLIDEAN (direct (x-y)^2 fold via
  *    [[graft.functions.L2SqDistance]]) — the classical PQ objective —
  *    while the coarse IVF quantizer stays spherical-cosine
  *    ([[Similarity.fitCodebookKMeans]]). Codes quantize RAW vectors,
  *    not residuals against the coarse centroid (the FAISS refinement;
  *    documented deviation — residual encoding would double the
  *    oracle's CTE surface for a constant-factor accuracy gain).
  *  - Seeding, tie-breaks, and the 6-dp HALF_UP centroid quantization
  *    per Lloyd round all follow the [[Similarity.fitCodebookKMeans]]
  *    discipline, so both engines replay the fit bit-for-bit.
  *  - ksub stays FIXED as the corpus grows (unlike the auto-scaled
  *    coarse centroid count): PQ cost is per-row encode work and a
  *    per-query m×ksub table — neither degrades with N.
  */
object Pq {

  /** codebooks(j) = subspace j's centroid list, (cid, subd-dim
    * vector), cid-ascending. Cells that lose all members during the
    * fit drop out, so cids may be sparse.
    */
  type Codebooks = Seq[Seq[(Int, Seq[Double])]]

  private def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Deterministic per-subspace Euclidean k-means codebooks (Lloyd
    * iterations as DataFrame aggregations, one subspace at a time —
    * the fit input is bounded, see below):
    *  - the vector splits into m contiguous subd = d/m slices;
    *  - init: all m subspaces seed from the SAME ksub rows — the
    *    smallest (hex64(id), id), the [[Similarity.fitCodebookKMeans]]
    *    seeded draw;
    *  - each round: assign every subvector to its nearest centroid by
    *    squared L2 (ties to the lowest centroid id), recompute
    *    centroids as element-wise means quantized to 6 dp HALF_UP
    *    (kills partial-agg-order ulp drift — the established
    *    cross-engine grid); member-less cells drop. Zero subvectors
    *    and zero centroids are legitimate under L2 (no norm filter —
    *    unlike the cosine fit, which must drop them).
    *
    * 100 TB: fit on a deterministic hash-sample (`fitSamplePct`) —
    * codebook quality needs thousands of vectors per cell, not the
    * corpus; each round is m bounded aggregations over the sample.
    */
  def fitPqCodebooks(emb: DataFrame, m: Int, ksub: Int, iters: Int,
      id: String = "vec_id", vec: String = "embedding",
      fitSamplePct: Int = 100): Codebooks = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(fitSamplePct >= 1 && fitSamplePct <= 100,
      s"fitSamplePct must be in [1,100], got $fitSamplePct")
    val dRow = emb.select(size(toDouble(col(vec))).as("d"))
      .where(col("d") > 0).head(1).headOption
    if (dRow.isEmpty) return Seq.fill(m)(Seq.empty) // no usable row at all
    val d = dRow.get.getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val subd = d / m
    val fitInput =
      if (fitSamplePct >= 100) emb
      else Sampling.bernoulliByHash(emb, col(id), fitSamplePct)
    // slice once per row, cache across the m × iters aggregation
    // rounds (and spread: the single-split testdata trap)
    val sliced = fitInput
      .select(col(id).as("vid") +: (0 until m).map(j =>
        slice(toDouble(col(vec)), j * subd + 1, subd).as(s"sv_$j")): _*)
      .repartition(emb.sparkSession.sparkContext.defaultParallelism, col("vid"))
      .cache()
    try {
      val seedRows = sliced
        .withColumn("__h", Hashing.hex64(col("vid").cast("string")))
        .orderBy(col("__h").asc, col("vid").asc)
        .limit(ksub)
        .select((0 until m).map(j => col(s"sv_$j")): _*)
        .collect()
      if (seedRows.isEmpty) return Seq.fill(m)(Seq.empty)
      var cbs: IndexedSeq[Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
        seedRows.toSeq.zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](j)) }
      }
      // ONE pass + ONE (m·ksub)-group aggregation per round for ALL
      // subspaces: each row explodes into its m (sub, subvector,
      // assigned-cell) entries — subspace assignments are independent
      // by construction, so fusing the rounds changes nothing the
      // per-subspace oracle unroll can observe. struct sort ascending
      // = distance asc, cid asc — the oracle's (dist ASC, cid ASC)
      // rank order.
      for (_ <- 1 to iters) {
        val subEntries = (0 until m).map { j =>
          // compact argmin (see bestEntry) — identical assignment to
          // the former unrolled sort_array form
          val assign = VectorMath.nearestL2(col(s"sv_$j"), cbs(j)).getField("cid")
          struct(lit(j).as("sub"), col(s"sv_$j").as("sv"), assign.as("cell"))
        }
        val aggs = (1 to subd).map(q =>
          avg(element_at(col("sv"), q)).as(s"m_$q"))
        val rows = sliced
          .select(explode(array(subEntries: _*)).as("__e"))
          .select(col("__e.sub").as("sub"), col("__e.sv").as("sv"),
            col("__e.cell").as("cell"))
          .groupBy(col("sub"), col("cell")).agg(aggs.head, aggs.tail: _*)
          .collect()
        cbs = (0 until m).map { j =>
          rows.toSeq.filter(_.getAs[Int]("sub") == j).map { r =>
            val mv = (1 to subd).map { q =>
              BigDecimal(r.getAs[Double](s"m_$q"))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            }
            (r.getAs[Int]("cell"), mv)
          }.sortBy(_._1)
        }
      }
      cbs
    } finally sliced.unpersist()
  }

  /** Per-subspace code columns for a frame already carrying sliced
    * subvector columns `svPrefix_j`: for each subspace the nearest
    * centroid's (cid, distance) under the fit's exact tie order.
    */
  private def bestEntry(codebook: Seq[(Int, Seq[Double])], sv: Column): Column =
    // compact argmin expression == the former
    // sort_array(array(struct(l2sq(sv, c), cid)...)).getItem(0): same
    // (x−y)² fold per centroid, same (d asc, cid asc) tie order, but
    // O(1) plan nodes per subspace instead of O(ksub) unrolled L2
    // loops (256 at the defaults — measured multi-second analysis +
    // codegen cost per query, and generated methods past the
    // whole-stage limits). PqSpec pins equality of the two forms.
    VectorMath.nearestL2(sv, codebook)

  /** Encode every vector: (id, sub, code, qdist) — one row per
    * subspace, `code` the nearest centroid id, `qdist` the 6-dp
    * squared quantization error (the per-subspace reconstruction
    * quality signal). Map-only column math over one scan: the
    * codebooks ride the plan as literals, like every fitted model in
    * this engine (p43/p57/p58's weight arrays).
    */
  def encodePq(emb: DataFrame, codebooks: Codebooks,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "codebooks must be non-empty per subspace")
    val m = codebooks.length
    val subd = codebooks.head.head._2.length
    val sliced = emb.select(col(id) +: (0 until m).map(j =>
      slice(toDouble(col(vec)), j * subd + 1, subd).as(s"sv_$j")): _*)
    val cells = (0 until m).map { j =>
      val best = bestEntry(codebooks(j), col(s"sv_$j"))
      struct(lit(j.toLong).as("sub"),
        best.getField("cid").cast("long").as("code"),
        round(best.getField("d"), 6).as("qdist"))
    }
    sliced
      .select(col(id), explode(array(cells: _*)).as("__e"))
      .select(col(id), col("__e.sub").as("sub"), col("__e.code").as("code"),
        col("__e.qdist").as("qdist"))
  }

  /** Exact brute-force squared-L2 top-k — [[ivfPqTopK]]'s quality
    * oracle (defines the recall target PqSpec/RecallSpec floor it
    * against), the L2 counterpart of [[Similarity.cosineTopK]].
    * O(N²·d): a labeled twin, not a scale path — the scale path is
    * the IVF-PQ form. Includes zero vectors (legitimate under L2; the
    * cosine twins must drop them).
    */
  def l2TopK(emb: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = emb.select(col(id).as("query_id"), toDouble(col(vec)).as("va"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
    val b = emb.select(col(id).as("neighbor_id"), toDouble(col(vec)).as("vb"))
    val pairs = a.join(broadcast(b), col("query_id") =!= col("neighbor_id"))
      .withColumn("l2sq", VectorMath.l2sq(col("va"), col("vb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2sq").asc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("l2sq"), 6).as("l2sq"), col("rank"))
  }

  /** Auto-sized ADC shortlist for the IVF-PQ refine step — the third
    * application of the autoPlanes/autoCentroids discipline
    * ([[Similarity.autoPlanes]]). With a FIXED rerankK, the exact
    * refine covers a shrinking SHARE of each query's ADC candidate
    * pool (≈ nProbe · N/C rows) as the corpus grows, and measured
    * recall@5 vs the exact twin dropped 0.465→0.355 (p64) /
    * 0.476→0.370 (p66) going 500→2000 vectors with the shortlist
    * pinned at 20. Holding the share constant keeps refine quality
    * scale-stable: shortK = max(4k, ceil(share% · nProbe · N / C)),
    * share 16%, in EXACT integer arithmetic
    * ((share·nProbe·N + 100C−1) / (100C), truncating — replayable as
    * DuckDB BIGINT `//`, so the oracle derives the same value from a
    * COUNT subquery at any scale). Bounded: while
    * [[Similarity.autoCentroids]] holds occupancy N/C at
    * targetOccupancy, shortK ≤ ceil(0.16 · nProbe · 1024) = 328 at
    * the defaults; past the 4096-centroid cap (corpora beyond ~4.2M
    * vectors at default occupancy) occupancy grows again, so shortK
    * hard-caps at 1024 — the refine join never exceeds
    * |queries| × 1024 rows, and recall past that point reverts to
    * degrading with occupancy, the documented residual trade of a
    * driver-literal coarse codebook (deployments at that size shard
    * the index; the cap never binds at any oracle-checked or benched
    * scale, so SQL replays are unaffected). At the sf0.01
    * oracle fixture (N=500, C=8, nProbe=2) the formula lands exactly
    * on the 4k floor (20), so historical recall pins at that scale
    * are unchanged; at sf0.1 (N=2000) it chooses 80.
    */
  private[ops] def autoRerankK(n: Long, c: Int, nProbe: Int, k: Int,
      sharePct: Int = 16): Int =
    if (n <= 0 || c <= 0) 4 * k
    else math.min(1024L, math.max(4L * k,
      (sharePct.toLong * nProbe * n + 100L * c - 1) / (100L * c))).toInt

  /** IVF-PQ approximate top-k with exact refinement — the full
    * two-level ANN shape. PRODUCTION CALLERS: prefer
    * [[ivfPqResidualTopK]] — on clustered (realistic) embeddings the
    * residual codes capture 0.803 recall@5 vs 0.462 for this
    * raw-vector form at the same code budget (RecallStructuredSpec,
    * the FAISS residual argument demonstrated on data); this variant
    * is kept as the ablation twin that isolates what residual
    * encoding buys. Shape: the coarse spherical-cosine IVF quantizer
    * ([[Similarity]], auto-scaled centroid count) prunes candidates to
    * the query's nProbe cells; ranking inside the probed lists runs on
    * PQ codes via ADC (asymmetric distance computation — each query
    * precomputes its m per-subspace lookup tables ONCE, each candidate
    * pair costs m map lookups + (m-1) adds instead of a d-dim float
    * scan); the ADC top-`rerankK` shortlist then re-ranks by EXACT
    * squared L2 (the FAISS refine step — fetching `rerankK` full
    * vectors per query by id, never scanning floats inside the lists).
    * Returns the exact distances of the refined top-k, ascending, ties
    * to the lowest neighbor id.
    *
    * Measured on the sf0.01 fixture (ProbePq decomposition, commit
    * 7ad950a): raw
    * m=4/ksub=8 ADC ranks at 0.085 recall vs the exact-L2 twin — the
    * quantization noise of 3-bit codes over 16-dim subspaces swamps
    * neighbor distance gaps — while m=16/ksub=16 + top-20 refine
    * recovers the cell-capture ceiling (~0.52, the same regime as
    * p13's exact-ranked cells). Hence the defaults.
    *
    * 100 TB: the cell id is the shuffle key exactly as in
    * [[Similarity.ivfCosineTopK]]; the candidate side carries only
    * (id, cell, m codes) — the PQ memory win — and fan-out stays
    * bounded by cell occupancy × nProbe. The LUT side is |queries| ×
    * m×ksub doubles, per-row state, never a join. The refine step
    * joins |queries|·rerankK id rows back to the vector table — a
    * bounded equi-join, the only place full vectors are touched.
    */
  def ivfPqTopK(emb: DataFrame, k: Int, m: Int = 16, ksub: Int = 16,
      pqIters: Int = 2, nCentroids: Int = 8, nProbe: Int = 2,
      rerankK: Int = -1,
      id: String = "vec_id", vec: String = "embedding",
      codebook: String = "kmeans", fitSamplePct: Int = 100,
      targetOccupancy: Int = 1024, corpusCount: Long = -1L,
      refineCapRows: Long = BroadcastRefineMaxRows): DataFrame = {
    require(refineCapRows >= 1, s"refineCapRows must be >= 1, got $refineCapRows")
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cbs = fitPqCodebooks(emb, m, ksub, pqIters, id, vec, fitSamplePct)
    require(cbs.forall(_.nonEmpty), "PQ fit produced an empty subspace codebook")
    val subd = cbs.head.head._2.length
    val nUsable = if (targetOccupancy <= 0) -1L
      else Similarity.sizingCount(emb, vec, corpusCount)
    val c = if (targetOccupancy <= 0) nCentroids
      else Similarity.autoCentroids(nUsable, nCentroids, targetOccupancy)
    val shortK = if (rerankK > 0) rerankK
      else if (targetOccupancy <= 0) 4 * k
      else autoRerankK(nUsable, c, nProbe, k)
    require(shortK >= k, s"rerankK $shortK must be >= k $k")
    val cells = Similarity.ivfRankedCells(emb, c, math.max(1, nProbe),
      id, vec, "vid", "v", "nrm", codebook, fitSamplePct)
    // candidate lists carry codes, not vectors (the PQ memory shape)
    val cands = cells.where(col("__rk") === 1)
      .select(col("vid").as("neighbor_id") +: col("cell") +: (0 until m).map(j =>
        slice(col("v"), j * subd + 1, subd).as(s"svb_$j")): _*)
      .select(col("neighbor_id") +: col("cell") +: (0 until m).map(j =>
        bestEntry(cbs(j), col(s"svb_$j")).getField("cid").as(s"code_$j")): _*)
    // ADC in reconstruction form: the codebooks ride the PLAN as
    // array-of-array literals and each pair evaluates
    // l2sq(query_subvector, centroid[code_j]) directly — the same
    // doubles a per-query lookup table would hold, WITHOUT widening
    // the probe rows. (A first cut shipped m per-query LUT maps
    // through the cell join — m·ksub·16B ≈ 4 KB per probe row vs the
    // 512 B vector — and the probe-side shuffle inflation measured
    // 3.8× wall at the 10× scale probe. Dropped cids leave zero-
    // vector placeholder slots that no surviving code references.)
    val probes = cells.where(col("__rk") <= nProbe)
      .select(col("vid").as("query_id"), col("cell"), col("v").as("va"))
    val adc = (0 until m).map { j =>
      VectorMath.l2sq(slice(col("va"), j * subd + 1, subd),
        element_at(typedlit(literalByCid(cbs(j), subd)),
          col(s"code_$j").cast("int") + 1))
    }.reduce(_ + _)
    val pairs = probes.join(cands, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_l2sq", adc)
    adcShortlistRefine(pairs, emb, k, shortK, id, vec, nUsable, refineCapRows)
  }

  /** Shared tail of the IVF-PQ rankers: keep each query's ADC
    * top-`shortK`, fetch those ids' FULL vectors (the only full-vector
    * touch — |queries|·shortK rows), re-rank by exact squared L2.
    */
  /** Corpora at or under this count refine via BROADCAST vector
    * joins: with auto-rerankK the shortlist is |queries|·shortK rows,
    * and shuffling it twice against the vector table (once carrying a
    * full query vector per row) dominated the 10× probe — measured
    * p64 14.6→64 s when shortK grew 20→320. Broadcasting both vector
    * sides turns both joins map-side: the shortlist never shuffles.
    *
    * The cap is derived from BYTES, which is what executor memory
    * actually bounds: 250k rows × 64-dim doubles ≈ 128 MB per side —
    * comfortable in a 4 GB executor next to Spark's own 8 GB broadcast
    * ceiling (wider embeddings should scale the cap down by d/64; the
    * row form is kept because the refine sizes from the same
    * `sizingCount` the IVF family already pays for). Past the cap the
    * corpus SHARDS by vector-id hash into ceil(n/cap) slices of at
    * most cap rows and each slice re-enters the broadcast regime: the
    * shortlist (|queries|·shortK skinny id pairs, localCheckpointed)
    * is rescanned once per (shard, side) — 2·S map-side broadcast
    * joins, zero shortlist shuffles — and the per-query top-k window
    * merges the union. Past [[MaxRefineShards]] slices the total
    * broadcast volume (= the whole corpus, in pieces) stops paying for
    * itself and the plain id-equi-join fallback takes over — that
    * fallback is the MEASURED envelope, not a guess: at a 64k-vector
    * fixture (ProbePqRefine at commit 7ad950a, BASELINE.md round 10)
    * it refined in
    * 64.5 s vs 36.2 s broadcast — 1.8×, bit-identical (PqSpec pins
    * equality across all three regimes). The round-11 500k-vector
    * probe measures the sharded middle regime against both.
    *
    * The cap is a PARAMETER on the rankers (tests pass small values to
    * force each regime) — a mutable object field here let parallel
    * suites flip each other's plan choice mid-run.
    */
  private[ops] val BroadcastRefineMaxRows = 250000L

  /** Sharded-refine ceiling: past cap×this the whole-corpus broadcast
    * volume (streamed in cap-sized slices) loses to one shortlist
    * shuffle; 16 shards ≈ 4M rows ≈ 2 GB total at 64-dim.
    */
  private[ops] val MaxRefineShards = 16

  private def adcShortlistRefine(pairs: DataFrame, emb: DataFrame, k: Int,
      shortK: Int, id: String, vec: String, corpusN: Long = -1L,
      refineCapRows: Long = BroadcastRefineMaxRows): DataFrame = {
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_l2sq").asc, col("neighbor_id").asc)
    val shortlist = pairs.withColumn("__ar", row_number().over(wAdc))
      .where(col("__ar") <= shortK)
      .select(col("query_id"), col("neighbor_id"))
    val nShards = if (corpusN <= 0) Long.MaxValue
      else (corpusN + refineCapRows - 1) / refineCapRows
    val refined =
      if (nShards <= 1L) {
        // whole corpus fits one broadcast: both joins map-side
        val qv = broadcast(emb.select(col(id).as("query_id"), toDouble(col(vec)).as("__va")))
        val nv = broadcast(emb.select(col(id).as("neighbor_id"), toDouble(col(vec)).as("__vb")))
        shortlist.join(qv, Seq("query_id")).join(nv, Seq("neighbor_id"))
      } else if (nShards <= MaxRefineShards) {
        // sharded regime: slice the corpus by id hash into <= cap-row
        // broadcasts; the CHECKPOINTED shortlist routes each side to
        // its shard map-side (a filter on the same hash), so the only
        // post-union exchange is the final per-query top-k window
        val s = nShards.toInt
        val vecs = emb.select(col(id).as("__vid"), toDouble(col(vec)).as("__v"),
          pmod(xxhash64(col(id)), lit(s.toLong)).as("__sh"))
        val sl = shortlist
          .withColumn("__shn", pmod(xxhash64(col("neighbor_id")), lit(s.toLong)))
          .withColumn("__shq", pmod(xxhash64(col("query_id")), lit(s.toLong)))
          .localCheckpoint(true)
        val slices = (0 until s).map(i =>
          broadcast(vecs.where(col("__sh") === i.toLong).drop("__sh")))
        val withNb = (0 until s).map { i =>
          sl.where(col("__shn") === i.toLong)
            .join(slices(i), col("neighbor_id") === col("__vid"))
            .withColumnRenamed("__v", "__vb").drop("__vid")
        }.reduce(_ unionByName _)
        (0 until s).map { i =>
          withNb.where(col("__shq") === i.toLong)
            .join(slices(i), col("query_id") === col("__vid"))
            .withColumnRenamed("__v", "__va").drop("__vid")
        }.reduce(_ unionByName _).drop("__shn", "__shq")
      } else {
        // fallback: plain id-equi-joins (two shortlist shuffles) — the
        // measured 1.8× envelope at 64k; correct at any corpus size
        val qv = emb.select(col(id).as("query_id"), toDouble(col(vec)).as("__va"))
        val nv = emb.select(col(id).as("neighbor_id"), toDouble(col(vec)).as("__vb"))
        shortlist.join(qv, Seq("query_id")).join(nv, Seq("neighbor_id"))
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2sq").asc, col("neighbor_id").asc)
    refined.withColumn("l2sq", VectorMath.l2sq(col("__va"), col("__vb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("l2sq"), 6).as("l2sq"), col("rank"))
  }

  /** Persist PQ codebooks as a tiny parquet table — the index state a
    * daily encode pipeline reads back instead of refitting (m·ksub
    * rows; the [[Similarity.saveCodebook]] discipline). Parquet
    * round-trips doubles bit-exactly, so loaded == fit and every
    * encode downstream stays oracle-replayable.
    */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession, path: String,
      cbs: Codebooks): Unit = {
    import spark.implicits._
    require(cbs.nonEmpty && cbs.forall(_.nonEmpty),
      "codebooks must be non-empty per subspace")
    cbs.zipWithIndex
      .flatMap { case (cb, j) => cb.map { case (cid, cv) => (j, cid, cv) } }
      .toDF("sub", "cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Restore [[savePqCodebooks]] state; fails loudly on a gap in the
    * subspace sequence (a partial write would silently mis-slice every
    * vector it encodes). A missing TAIL subspace is invisible from the
    * file alone — m is inferred from the max sub id — so callers that
    * know their m pass `expectedM` to close that hole.
    */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String, expectedM: Int = -1): Codebooks = {
    val rows = spark.read.parquet(path).collect().toSeq.map { r =>
      (r.getInt(r.fieldIndex("sub")), r.getInt(r.fieldIndex("cid")),
        r.getSeq[Double](r.fieldIndex("cv")))
    }
    require(rows.nonEmpty, s"no PQ codebook state at $path")
    val bySub = rows.groupBy(_._1)
    val m = if (expectedM > 0) expectedM else bySub.keys.max + 1
    require(bySub.keySet == (0 until m).toSet,
      s"PQ codebook at $path is missing subspaces: have ${bySub.keySet.toSeq.sorted}, want 0..${m - 1}")
    (0 until m).map(j => bySub(j).map { case (_, cid, cv) => (cid, cv) }.sortBy(_._1))
  }

  /** Sparse-cid-safe literal lookup table: index c+1 holds cid c's
    * vector; dropped cids leave zero placeholders no live code/cell
    * references.
    */
  private def literalByCid(entries: Seq[(Int, Seq[Double])], width: Int): Seq[Seq[Double]] = {
    val byCid = entries.toMap
    (0 to entries.map(_._1).max).map(c => byCid.getOrElse(c, Seq.fill(width)(0.0)))
  }

  /** Residual IVF-PQ top-k — the full FAISS IVF-PQ: codes quantize the
    * RESIDUAL r = v − coarseCentroid(cell(v)) instead of the raw
    * vector (closing [[ivfPqTopK]]'s documented deviation). Residuals
    * concentrate near zero inside a cell, so the same m×ksub codebook
    * budget spends its resolution on within-cell geometry — the part
    * ADC actually ranks. d(q, x) ≈ ‖(q − c_cell) − recon(x)‖²: each
    * probe row computes the query's residual AGAINST THE PROBED CELL
    * (per-row column math on the literal coarse centroids), candidates
    * carry residual codes, ADC runs in the same slim reconstruction
    * form, and the exact refine re-ranks on ORIGINAL vectors.
    *
    * Scale: identical envelope to [[ivfPqTopK]] — one extra zip_with
    * per row for the residual; the coarse codebook is fit ONCE and
    * shared between cell assignment and residual computation.
    */
  def ivfPqResidualTopK(emb: DataFrame, k: Int, m: Int = 16, ksub: Int = 16,
      pqIters: Int = 2, nCentroids: Int = 8, nProbe: Int = 2,
      rerankK: Int = -1,
      id: String = "vec_id", vec: String = "embedding",
      fitSamplePct: Int = 100,
      targetOccupancy: Int = 1024, corpusCount: Long = -1L,
      refineCapRows: Long = BroadcastRefineMaxRows): DataFrame = {
    require(refineCapRows >= 1, s"refineCapRows must be >= 1, got $refineCapRows")
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val nUsable = if (targetOccupancy <= 0) -1L
      else Similarity.sizingCount(emb, vec, corpusCount)
    val c = if (targetOccupancy <= 0) nCentroids
      else Similarity.autoCentroids(nUsable, nCentroids, targetOccupancy)
    val shortK = if (rerankK > 0) rerankK
      else if (targetOccupancy <= 0) 4 * k
      else autoRerankK(nUsable, c, nProbe, k)
    require(shortK >= k, s"rerankK $shortK must be >= k $k")
    val coarse = Similarity.fitCodebook(emb, c, id, vec, fitSamplePct)
    require(coarse.nonEmpty, "coarse codebook fit produced no centroids")
    val d = coarse.head._2.length
    val coarseArr = literalByCid(coarse.map { case (cid, cv, _) => (cid, cv) }, d)
    val cells = Similarity.ivfRankedCells(emb, c, math.max(1, nProbe),
      id, vec, "vid", "v", "nrm", prefit = Some(coarse))
    def resOf(vcol: Column, cellCol: Column): Column =
      zip_with(vcol,
        element_at(typedlit(coarseArr), cellCol.cast("int") + 1),
        (a, b) => a - b)
    val resFrame = cells.where(col("__rk") === 1)
      .select(col("vid"), col("cell"), resOf(col("v"), col("cell")).as("res"))
    val cbs = fitPqCodebooks(resFrame, m, ksub, pqIters, id = "vid", vec = "res")
    require(cbs.forall(_.nonEmpty), "residual PQ fit produced an empty subspace codebook")
    val subd = cbs.head.head._2.length
    val cands = resFrame
      .select(col("vid").as("neighbor_id") +: col("cell") +: (0 until m).map(j =>
        slice(col("res"), j * subd + 1, subd).as(s"svb_$j")): _*)
      .select(col("neighbor_id") +: col("cell") +: (0 until m).map(j =>
        bestEntry(cbs(j), col(s"svb_$j")).getField("cid").as(s"code_$j")): _*)
    val probes = cells.where(col("__rk") <= nProbe)
      .select(col("vid").as("query_id"), col("cell"),
        resOf(col("v"), col("cell")).as("qres"))
    val adc = (0 until m).map { j =>
      VectorMath.l2sq(slice(col("qres"), j * subd + 1, subd),
        element_at(typedlit(literalByCid(cbs(j), subd)),
          col(s"code_$j").cast("int") + 1))
    }.reduce(_ + _)
    val pairs = probes.join(cands, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_l2sq", adc)
    adcShortlistRefine(pairs, emb, k, shortK, id, vec, nUsable, refineCapRows)
  }
}
