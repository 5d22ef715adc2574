package graft.ops

import graft.SparkSpec
import graft.functions.VectorMath
import org.apache.spark.sql.functions._

/** Product quantization: fit shape/determinism, encode nearest-
  * centroid correctness against a driver-side brute recompute, the
  * ADC identity (lookup-table sums equal direct reconstruction
  * distances), and L2 edge semantics (zero vectors are legal; ragged
  * vectors fail loudly).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Double])*) =
    rows.toDF("vec_id", "embedding")

  test("fit: m codebooks of <= ksub subd-dim centroids; deterministic across runs; zero vectors legal") {
    val data = emb((0L to 11L).map(i =>
      (i, Seq(i.toDouble, 10.0 - i, (i % 3).toDouble, 0.0))): _*)
    val cbs = Pq.fitPqCodebooks(data, m = 2, ksub = 3, iters = 2)
    assert(cbs.length == 2)
    cbs.foreach { cb =>
      assert(cb.nonEmpty && cb.size <= 3)
      cb.foreach { case (_, cv) => assert(cv.length == 2) }
      assert(cb.map(_._1) == cb.map(_._1).sorted)
    }
    // subspace 1 contains a constant-zero coordinate — L2 fit must
    // keep zero-ish centroids (no norm filter), unlike the cosine fit
    assert(cbs(1).nonEmpty)
    val again = Pq.fitPqCodebooks(data, m = 2, ksub = 3, iters = 2)
    assert(cbs == again, "fit must be deterministic")
    intercept[IllegalArgumentException] {
      Pq.fitPqCodebooks(data, m = 3, ksub = 2, iters = 1) // 4 % 3 != 0
    }
  }

  test("encode: every (vector, subspace) gets the truly nearest centroid (brute recompute)") {
    val data = emb((0L to 19L).map(i =>
      (i, Seq(math.sin(i * 1.7), math.cos(i * 2.3), (i % 5) * 0.25, -0.5 + i * 0.1))): _*)
    val cbs = Pq.fitPqCodebooks(data, m = 2, ksub = 4, iters = 2)
    val out = Pq.encodePq(data, cbs)
      .select("vec_id", "sub", "code", "qdist")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 20 * 2, "one row per (vector, subspace)")
    val vecs = data.as[(Long, Seq[Double])].collect().toMap
    def l2sq(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0
      a.indices.foreach { i => val d = a(i) - b(i); s += d * d }
      s
    }
    out.foreach { case (vid, sub, code, qdist) =>
      val sv = vecs(vid).slice(sub.toInt * 2, sub.toInt * 2 + 2)
      // nearest by (dist, cid) — the engine's exact tie order
      val best = cbs(sub.toInt).map { case (cid, cv) => (l2sq(sv, cv), cid) }.min
      assert(code == best._2, s"vec $vid sub $sub: engine code $code, brute ${best._2}")
      assert(math.abs(qdist - best._1) < 1e-6)
    }
  }

  test("ivfPqTopK: with a cell-covering shortlist, refined output IS the exact L2 ranking within probed cells") {
    val data = emb((0L to 29L).map(i =>
      (i, Seq.tabulate(8)(j => math.sin(i * 0.9 + j * 1.3)))): _*)
    val out = Pq.ivfPqTopK(data, k = 3, m = 4, ksub = 4, pqIters = 2,
        nCentroids = 4, nProbe = 2, rerankK = 1000, targetOccupancy = 0)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.nonEmpty)
    // expected: per probe (rk<=2), candidates are the rank-1 members
    // of its cells; exact squared L2; (dist, id) order; top 3
    val cells = Similarity.ivfRankedCells(data, 4, 2, "vec_id", "embedding",
        "vid", "v", "nrm")
      .select("vid", "cell", "__rk").as[(Long, Int, Int)].collect()
    val members = cells.filter(_._3 == 1).groupBy(_._2)
      .map { case (c, rs) => c -> rs.map(_._1).toSet }
    val vecs = data.as[(Long, Seq[Double])].collect().toMap
    def l2sq(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0
      a.indices.foreach { i => val d = a(i) - b(i); s += d * d }
      s
    }
    val expected = cells.filter(_._3 <= 2).groupBy(_._1).flatMap { case (q, prs) =>
      val cand = prs.map(_._2).toSet.flatMap((c: Int) =>
        members.getOrElse(c, Set.empty[Long])) - q
      cand.toSeq.map(n => (l2sq(vecs(q), vecs(n)), n))
        .sorted.take(3).zipWithIndex
        .map { case ((dst, n), i) =>
          (q, n, BigDecimal(dst).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            i + 1) }
    }.toSet
    assert(out.toSet == expected,
      s"engine ${out.toSet.size} rows vs expected ${expected.size}")
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length), s"query $q ranks not 1..k")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq,
        s"query $q l2sq not ascending with rank")
      assert(rows.length <= 3)
      assert(rows.forall(_._2 != q), "self-pairs excluded")
    }
  }

  test("refine regimes (broadcast / sharded / id-equi-join fallback) are bit-identical") {
    // refineCapRows is a PARAMETER (round 11: the mutable object field
    // let parallel suites flip each other's plan choice) — the small
    // fixture forces each regime by cap: 60 rows <= 1e6 -> broadcast;
    // cap 10 -> 6 shards <= MaxRefineShards -> sharded; cap 3 -> 20
    // shards > 16 -> plain join fallback. All three must agree
    // row-for-row on BOTH rankers (the regimes differ only in plan
    // cost, measured at 64k/500k fixtures in BASELINE.md r10/r11).
    val data = emb((0L to 59L).map(i =>
      (i, Seq.tabulate(8)(j => math.cos(i * 1.7 + j * 0.7)))): _*)
    def raw(cap: Long) = Pq.ivfPqTopK(data, k = 3, m = 4, ksub = 4,
        pqIters = 2, nCentroids = 4, nProbe = 2, refineCapRows = cap)
      .as[(Long, Long, Double, Int)].collect().toSet
    def res(cap: Long) = Pq.ivfPqResidualTopK(data, k = 3, m = 4,
        ksub = 4, pqIters = 2, nCentroids = 4, nProbe = 2, refineCapRows = cap)
      .as[(Long, Long, Double, Int)].collect().toSet
    val viaBroadcast = raw(1000000L)
    assert(viaBroadcast.nonEmpty)
    assert(60L / 10L <= Pq.MaxRefineShards && 60L / 3L > Pq.MaxRefineShards,
      "fixture caps must straddle the shard ceiling")
    assert(raw(10L) == viaBroadcast, "raw ranker diverged in the sharded regime")
    assert(raw(3L) == viaBroadcast, "raw ranker diverged in the fallback regime")
    val viaBroadcastRes = res(1000000L)
    assert(res(10L) == viaBroadcastRes, "residual ranker diverged in the sharded regime")
    assert(res(3L) == viaBroadcastRes, "residual ranker diverged in the fallback regime")
  }

  test("save/load codebooks: bit-exact round trip; a missing subspace is rejected loudly") {
    val data = emb((0L to 11L).map(i =>
      (i, Seq(i.toDouble, 10.0 - i, (i % 3).toDouble, 0.5 * i))): _*)
    val cbs = Pq.fitPqCodebooks(data, m = 2, ksub = 3, iters = 2)
    val path = tmpDir("graft_pq_cb_spec")
      .resolve("cb").toString
    Pq.savePqCodebooks(spark, path, cbs)
    val loaded = Pq.loadPqCodebooks(spark, path)
    assert(loaded == cbs, "loaded codebooks must equal the fit bit-for-bit")
    // drop subspace 0's rows (an interior gap: sub 1 remains, so the
    // sequence 0..max is broken) -> the load must refuse, not mis-slice
    val broken = spark.read.parquet(path).where(col("sub") =!= 0)
    val badPath = tmpDir("graft_pq_cb_spec2")
      .resolve("cb").toString
    broken.write.parquet(badPath)
    val e = intercept[IllegalArgumentException] { Pq.loadPqCodebooks(spark, badPath) }
    assert(e.getMessage.contains("missing subspaces"))
    // a missing TAIL subspace is invisible without expectedM (m is
    // inferred from the max sub id) — expectedM closes the hole
    val tailPath = tmpDir("graft_pq_cb_spec3")
      .resolve("cb").toString
    spark.read.parquet(path).where(col("sub") =!= 1).write.parquet(tailPath)
    assert(Pq.loadPqCodebooks(spark, tailPath).length == 1,
      "tail loss is undetectable without expectedM (documented)")
    val e2 = intercept[IllegalArgumentException] {
      Pq.loadPqCodebooks(spark, tailPath, expectedM = 2)
    }
    assert(e2.getMessage.contains("missing subspaces"))
  }

  test("autoRerankK: floor at oracle scales, constant pool share beyond, occupancy-bounded cap") {
    // the fixture sizes the oracle depends on: exactly the 4k floor
    // at sf0.01's 500 vectors (so the SQL replay's GREATEST lands on
    // the same value), 80 at sf0.1's 2000
    assert(Pq.autoRerankK(500L, 8, 2, 5) == 20)
    assert(Pq.autoRerankK(2000L, 8, 2, 5) == 80)
    // constant share: 10x the occupancy -> 10x the shortlist
    assert(Pq.autoRerankK(20000L, 8, 2, 5) == 800)
    // while autoCentroids holds occupancy at targetOccupancy the
    // composed system stays <= ceil(0.16 * nProbe * 1024) = 328 ...
    assert(Pq.autoRerankK(4000000L, Similarity.autoCentroids(4000000L, 8, 1024), 2, 5) <= 328)
    // ... and past the 4096-centroid cap the hard cap takes over:
    // the refine join is bounded at |queries| x 1024 at ANY corpus
    val cBig = Similarity.autoCentroids(100000000L, 8, 1024)
    assert(cBig == 4096 && Pq.autoRerankK(100000000L, cBig, 2, 5) == 1024)
    // degenerate inputs fall back to the floor
    assert(Pq.autoRerankK(0L, 8, 2, 5) == 20)
    assert(Pq.autoRerankK(-1L, 8, 2, 5) == 20)
  }

  test("l2sq kernel: exact value; ragged vectors fail loudly") {
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, 0.0, 5.0))).toDF("a", "b")
    val v = d.select(VectorMath.l2sq(col("a"), col("b"))).as[Double].head()
    assert(math.abs(v - (0.25 + 4.0 + 4.0)) < 1e-12)
    val ragged = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    // local relations evaluate eagerly on the driver, so the kernel's
    // IllegalArgumentException surfaces unwrapped
    intercept[IllegalArgumentException] {
      ragged.select(VectorMath.l2sq(col("a"), col("b"))).collect()
    }
  }
}
