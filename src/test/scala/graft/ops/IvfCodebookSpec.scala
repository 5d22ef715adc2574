package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cell-occupancy guard for the IVF codebook (round-3 verdict #2): the
  * min-id stand-in picks the `nCentroids` LOWEST-id vectors as
  * centroids, so a corpus whose low ids are near-duplicates (sorted
  * ingest putting boilerplate first — a realistic corpus shape) yields
  * `nCentroids` identical centroids: every vector ties on cosine, the
  * lowest cid wins every tie, and ONE cell holds the whole table — at
  * 100 TB that cell is one straggler executor, exactly the skew
  * SkewJoin exists to kill. The deterministic k-means codebook seeds by
  * hex64(id) order (id-independent pseudo-random draw) and separates
  * the clusters in 3 Lloyd rounds.
  */
class IvfCodebookSpec extends SparkSpec {
  import spark.implicits._

  // 400 vectors in 8-dim space, three clusters A/B/C at 55%/30%/15%
  // around orthogonal axes with deterministic jitter; ids 0..7 are
  // EXACT copies of A's base vector — the min-id codebook's worst case.
  private lazy val skewed = {
    val bases = Map(
      'A' -> Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      'B' -> Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      'C' -> Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f))
    def jitter(i: Int, j: Int): Float = (((i * 31 + j * 7) % 13) - 6) * 0.01f
    val rows = (0 until 400).map { i =>
      val cluster = if (i < 8) 'A' else if (i % 20 < 11) 'A' else if (i % 20 < 17) 'B' else 'C'
      val v = bases(cluster).zipWithIndex.map { case (b, j) =>
        if (i < 8) b else b + jitter(i, j) // ids 0..7: exact duplicates
      }
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def occupancy(codebook: String): Map[Any, Long] =
    Similarity.ivfAssignments(skewed, nCentroids = 8, codebook = codebook)
      .groupBy("cell").count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap

  test("min-id codebook collapses the duplicate-prefix corpus into one cell; k-means separates it") {
    val minid = occupancy("minid")
    val kmeans = occupancy("kmeans")
    info(s"minid cells=${minid.size} max=${minid.values.max}")
    info(s"kmeans cells=${kmeans.size} max=${kmeans.values.max}")
    // min-id: 8 identical centroids -> every cosine ties -> lowest cid
    // takes every vector: one 400-row cell
    assert(minid.values.max >= 360, s"stand-in no longer degenerate? $minid")
    // k-means: max cell bounded by the dominant cluster (55% = 220)
    // plus jitter-margin strays; 0.7*N would already kill a straggler
    assert(kmeans.values.max <= 280,
      s"kmeans max occupancy ${kmeans.values.max} > 280 — codebook stopped separating clusters")
    assert(kmeans.size >= 3,
      s"kmeans found ${kmeans.size} cells — expected at least the 3 planted clusters")
    // every vector is assigned in both (no rows dropped by the codebook)
    assert(minid.values.sum == 400 && kmeans.values.sum == 400)
  }

  test("fitting the codebook on a hash-sample still separates the clusters and assigns every vector") {
    // the corpus-scale path: Lloyd rounds over a deterministic 50%
    // Bernoulli sample, assignment over the full table
    val occ = Similarity.ivfAssignments(skewed, nCentroids = 8,
        codebook = "kmeans", fitSamplePct = 50)
      .groupBy("cell").count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    info(s"sampled-fit cells=${occ.size} max=${occ.values.max}")
    assert(occ.values.sum == 400)
    assert(occ.values.max <= 280,
      s"sampled-fit codebook stopped separating: $occ")
    assert(occ.size >= 3)
  }

  test("centroids land exactly on the 1e-6 quantization grid (cross-engine determinism contract)") {
    // The contract that keeps p13 hash-stable against the DuckDB replay:
    // after every Lloyd round each centroid coordinate is HALF_UP-rounded
    // to 6 dp, so partial-agg order (engine- and run-dependent) cannot
    // leak ulp drift into the next round's near-tie assignments. If a
    // coordinate ever comes back off-grid, the quantization was dropped
    // or moved after the norm computation.
    val cents = Similarity.fitCodebookKMeans(skewed, nCentroids = 8,
      iters = 3, id = "vec_id", vec = "embedding")
    assert(cents.nonEmpty)
    cents.foreach { case (cid, cv, nrm) =>
      cv.foreach { x =>
        val q = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(x == q, s"centroid $cid coordinate $x is off the 1e-6 grid")
      }
      // the stored norm must be derived FROM the quantized coordinates,
      // not the pre-quantization ones — otherwise the cosine ranking
      // mixes grids and the near-tie protection is void
      assert(nrm == math.sqrt(cv.map(x => x * x).sum),
        s"centroid $cid norm not derived from quantized coordinates")
    }
  }

  test("semantic dedup: exact copies drop to the smallest id; distinct vectors keep; verdicts conserve rows") {
    // tau a hair under 1: identical vectors score cosine = 1 ± 1 ulp
    // (norms re-derive from the same doubles), while the closest
    // DISTINCT jitter patterns differ in every coordinate by >= 0.01
    // (cosine <~ 0.9996) — so the threshold separates exactly the
    // byte-identical copies
    val tau = 0.9999999
    val out = Similarity.semanticDedup(skewed, tau, nCentroids = 8)
      .select("vec_id", "cell", "keep")
      .as[(Long, Long, Boolean)].collect()
    // one verdict per vector, nothing lost
    assert(out.length == 400 && out.map(_._1).distinct.length == 400)
    val keepById = out.map(r => r._1 -> r._3).toMap
    // ids 0..7 are byte-identical vectors (cosine 1): same cluster by
    // construction, so keep-smallest retains ONLY id 0 of them
    assert(keepById(0L), "smallest id of the duplicate set must survive")
    (1L to 7L).foreach(i => assert(!keepById(i), s"duplicate id $i survived"))
    // the fixture's jitter depends only on i mod 13, so each (cluster,
    // i mod 13) class is a set of byte-identical vectors — 40 distinct
    // values in total. Identical vectors always co-cell, so the exact
    // expected survivor set is the min id of each distinct value,
    // derived here straight from the fixture (a true differential)
    val expectKeep = skewed.as[(Long, Seq[Float])].collect()
      .groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(out.filter(_._3).map(_._1).toSet == expectKeep,
      s"keep set diverged from min-id-per-distinct-vector (${expectKeep.size} classes)")
    assert(expectKeep.size == 40) // 3 clusters x 13 jitter patterns + base A
    // deterministic across replans
    val again = Similarity.semanticDedup(skewed, tau, nCentroids = 8)
      .select("vec_id", "cell", "keep").as[(Long, Long, Boolean)].collect()
    assert(out.toSet == again.toSet)
  }

  test("codebook save/load roundtrip is exact; incremental probe honors the index split") {
    val dir = tmpDir("graft_cb").toString
    val corpus = skewed.where(col("vec_id") < 200)
    val batch = skewed.where(col("vec_id") >= 200)
    val cb = Similarity.fitCodebook(corpus, nCentroids = 8)
    Similarity.saveCodebook(spark, s"$dir/cb", cb)
    val back = Similarity.loadCodebook(spark, s"$dir/cb")
    // exact: coordinates are already 6-dp-quantized doubles, and the
    // norm re-derives from them bit-identically
    assert(back == cb)

    val out = Similarity.ivfCosineTopKIncremental(corpus, batch, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    // queries come only from the batch; neighbors only from the index
    assert(out.forall { case (q, n, _) => q >= 200 && n < 200 })
    // ranks are dense 1..m per query
    out.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length).toSeq)
    }
    // deterministic
    val again = Similarity.ivfCosineTopKIncremental(corpus, batch, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(out.toSet == again.toSet)
    // the persisted-state path (pre-fit codebook, no refit) must be
    // indistinguishable from the convenience refit form
    val viaLoaded = Similarity.ivfCosineTopKIncremental(corpus, batch, k = 5,
      codebook = Some(back))
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(out.toSet == viaLoaded.toSet)
  }

  test("exact cosine tie between two centroids resolves to the lowest centroid id") {
    // Planted near-tie: two orthogonal unit centroids and a query vector
    // exactly on their bisector. Both cells score identical cosine; the
    // documented tie-break (sort_array over (negCos, cid) structs) must
    // pick the LOWER cid on every engine and every run.
    val two = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      // bisector vectors — equidistant from both centroids to the ulp
      (2L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.5f, 0.5f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cells = Similarity.ivfAssignments(two, nCentroids = 2, codebook = "minid")
      .orderBy("vec_id").collect().map(r => r.getAs[Number]("cell").intValue())
    // seeds are ids 0 and 1 (minid); vectors 2 and 3 tie exactly
    assert(cells(2) == cells(3), s"identical bisector vectors split cells: ${cells.toSeq}")
    assert(cells(2) == math.min(cells(0), cells(1)),
      s"tie did not resolve to the lowest centroid id: ${cells.toSeq}")
  }
}
