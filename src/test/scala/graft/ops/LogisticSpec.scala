package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixture-level behavior of the p57 trained logistic-regression
  * quality classifier: weight directions on a separable corpus, class
  * separation after training, exact determinism of the integer-lattice
  * GD, and the blank-document edge.
  */
class LogisticSpec extends SparkSpec {
  import spark.implicits._

  // quality-rule anatomy: ≥20 tokens, no punctuation, ≥20% stopwords,
  // mean token length in [3,10] → score 1.0 → y=1; punctuation blobs
  // with no stopwords → y=0
  private val good = "the and of is " + Seq.fill(16)("word").mkString(" ")
  private val bad = "!!! ??? !!!"

  private def fixture = (1L to 20L).map { i =>
    (i, if (i % 2 == 0) good else bad)
  }.toDF("doc_id", "text")

  test("p57: GD learns the quality signal — stopwords up, punctuation down, classes separate") {
    val feat = Logistic.features(fixture).localCheckpoint(true)
    // labels are the engine's own p8 rule: the fixture must split 10/10
    val byY = feat.groupBy("y").count().as[(Double, Long)].collect().toMap
    assert(byY == Map(1.0 -> 10L, 0.0 -> 10L), s"fixture labels: $byY")
    val w = Logistic.train(feat, rounds = 3)
    // y=1 docs carry the stopword mass, y=0 docs the punctuation mass
    assert(w(3) > 0, s"stopword weight must train positive: ${w.toSeq}")
    assert(w(2) < 0, s"punctuation weight must train negative: ${w.toSeq}")
    // training is exact integer arithmetic: a re-run is bit-identical
    assert(Logistic.train(feat, rounds = 3).toSeq == w.toSeq)
    // the trained model separates the classes completely
    val scored = Logistic.scoreWith(feat, w)
      .select("label", "p_hat").as[(Long, Double)].collect()
    val pos = scored.filter(_._1 == 1L).map(_._2)
    val neg = scored.filter(_._1 == 0L).map(_._2)
    assert(pos.min > neg.max,
      s"classes must separate: pos ${pos.min}, neg ${neg.max}")
  }

  test("p57: blank document featurizes to bias-only with label 0") {
    val feat = Logistic.features(Seq((1L, "  ")).toDF("doc_id", "text"))
      .select("y", "x0", "x1", "x2", "x3")
      .as[(Double, Double, Double, Double, Double)].head()
    assert(feat == ((0.0, 1.0, 0.0, 0.0, 0.0)), s"got $feat")
  }

  test("x26: carry columns ride features and scoreWith unchanged (the stream-monitor hook)") {
    val d = fixture.withColumn("source",
      concat(lit("s"), col("doc_id") % 2))
    val f = Logistic.features(d, carry = Seq("source"))
    assert(f.columns.toSeq ==
      Seq("doc_id", "source", "y", "x0", "x1", "x2", "x3"))
    val out = Logistic.scoreWith(f, Array(0L, 0L, 0L, 0L),
      carry = Seq("source"))
    assert(out.columns.toSeq ==
      Seq("doc_id", "source", "label", "p_hat", "keep"))
    // zero weights: p_hat is exactly 0.5 everywhere, keep everywhere —
    // the boundary the >= cut includes by definition
    assert(out.select("p_hat").distinct().as[Double].collect().toSeq == Seq(0.5))
  }

  test("x26: weight persistence round-trips bit-identically and rejects malformed files") {
    val feat = Logistic.features(fixture).localCheckpoint(true)
    val w = Logistic.train(feat, rounds = 3)
    val path = tmpDir("graft_lrw_spec").resolve("w").toString
    Logistic.saveWeights(spark, path, w)
    assert(Logistic.loadWeights(spark, path).toSeq == w.toSeq)
    // a gapped file must fail loudly, not score garbage
    val bad = tmpDir("graft_lrw_spec").resolve("bad").toString
    Seq((0, 1L), (2, 2L)).toDF("j", "w_micro")
      .write.mode("overwrite").parquet(bad)
    intercept[IllegalArgumentException] { Logistic.loadWeights(spark, bad) }
    // a contiguous PREFIX truncation is undetectable from the file
    // alone (weights are now any-arity); a caller that knows its
    // feature arity closes the hole with expectedN
    val trunc = tmpDir("graft_lrw_spec").resolve("trunc").toString
    Seq((0, 1L), (1, 2L)).toDF("j", "w_micro")
      .write.mode("overwrite").parquet(trunc)
    assert(Logistic.loadWeights(spark, trunc).length == 2,
      "prefix loss is undetectable without expectedN (documented)")
    intercept[IllegalArgumentException] {
      Logistic.loadWeights(spark, trunc, expectedN = 4)
    }
  }

  test("p70: the extended feature set trains through the SAME path at arity 6") {
    // pluggability contract: train/scoreWith read the frame's x-arity
    val feat6 = Logistic.featuresExtended(fixture).localCheckpoint(true)
    val w6 = Logistic.train(feat6, rounds = 3)
    assert(w6.length == 6, s"extended arity must be 6, got ${w6.length}")
    assert(Logistic.train(feat6, rounds = 3).toSeq == w6.toSeq,
      "extended training must be exactly deterministic")
    assert(w6.exists(_ != 0L), "training moved no weight")
    // the first four lattice dimensions are the p57 features exactly:
    // a frame stripped back to them reproduces p57's weights through
    // the same generalized path
    val feat4 = feat6.select("doc_id", "y", "x0", "x1", "x2", "x3")
    val w4 = Logistic.train(Logistic.features(fixture).localCheckpoint(true), rounds = 3)
    assert(Logistic.train(feat4.localCheckpoint(true), rounds = 3).toSeq == w4.toSeq,
      "arity-4 slice of the extended frame must reproduce p57's fit")
    // arity mismatch between weights and frame fails loudly
    intercept[IllegalArgumentException] { Logistic.scoreWith(feat6, w4) }
  }

  test("p62: hashed-feature GD separates the classes and is exactly deterministic") {
    val feat = Logistic.hashedFeatures(fixture, nBuckets = 64)
      .localCheckpoint(true)
    val w = Logistic.trainHashed(feat, nBuckets = 64, rounds = 2)
    assert(Logistic.trainHashed(feat, nBuckets = 64, rounds = 2).toSeq == w.toSeq)
    assert(w.exists(_ != 0L), "training moved no weight")
    val scored = Logistic.scoreHashed(feat, w)
      .select("label", "p_hat").as[(Long, Double)].collect()
    val pos = scored.filter(_._1 == 1L).map(_._2)
    val neg = scored.filter(_._1 == 0L).map(_._2)
    assert(pos.min > neg.max,
      s"hashed classes must separate: pos ${pos.min}, neg ${neg.max}")
    // blank doc: no grams, p exactly 1/2
    val blank = Logistic.scoreHashed(
      Logistic.hashedFeatures(Seq((9L, " ")).toDF("doc_id", "text"), 64), w)
      .select("p_hat").as[Double].head()
    assert(blank == 0.5)
    intercept[IllegalArgumentException] {
      Logistic.hashedFeatures(fixture, nBuckets = 1)
    }
    intercept[IllegalArgumentException] {
      Logistic.trainHashed(feat, 64, rounds = 0)
    }
  }

  test("p57: guards") {
    val feat = Logistic.features(fixture)
    intercept[IllegalArgumentException] { Logistic.train(feat, rounds = 0) }
    intercept[IllegalArgumentException] { Logistic.train(feat, 1, lrNum = 0) }
    intercept[IllegalArgumentException] { Logistic.scoreWith(feat, Array(1L)) }
  }
}
