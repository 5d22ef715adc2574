package graft.stats

import graft.SparkSpec
import graft.functions.ErfMath
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("erf matches known values within A&S 7.1.26 tolerance") {
    // the rational approximation's max abs error is 1.5e-7 (and it is
    // ~8.3e-10 away from 0 at x=0 — coefficients don't sum to 1 exactly)
    assert(math.abs(ErfMath.erf(0.0)) < 2e-9)
    assert(math.abs(ErfMath.erf(1.0) - 0.8427007929) < 2e-7)
    assert(math.abs(ErfMath.erf(-1.0) + 0.8427007929) < 2e-7)
    assert(math.abs(ErfMath.normCdf(1.959963985) - 0.975) < 1e-6)
    assert(math.abs(ErfMath.normCdf(0.0) - 0.5) < 1e-9)
  }

  test("fractional rank averages ties (reference _rankdata semantics)") {
    // correlation.py:17-30 — values [1,2,2,3] -> ranks [1, 2.5, 2.5, 4]
    val df = Seq(("g", "s1", 1.0), ("g", "s2", 2.0), ("g", "s3", 2.0), ("g", "s4", 3.0))
      .toDF("grp", "s", "v")
    val got = Ranks.fractionalRank(df, Seq(col("grp")), col("v"), "r")
      .orderBy("s").select("r").as[Double].collect()
    assert(got.toSeq == Seq(1.0, 2.5, 2.5, 4.0))
  }

  test("low-cardinality fractional rank equals the window formulation") {
    val rng = new scala.util.Random(3)
    val rows = (1 to 500).map(i =>
      // every third group key NULL: both variants must rank those
      // rows together as their own group (null-safe join)
      (if (i % 3 == 0) null else if (i % 2 == 0) "A" else "B",
        i.toLong, (rng.nextInt(7) + 1).toDouble))
    val df = rows.toDF("grp", "id", "v")
    val win = Ranks.fractionalRank(df, Seq(col("grp")), col("v"), "r")
      .select("grp", "id", "r").orderBy("grp", "id").collect()
    val low = Ranks.fractionalRankLowCard(df, Seq("grp"), col("v"), "r")
      .select("grp", "id", "r").orderBy("grp", "id").collect()
    assert(win.length == low.length && win.length == 500)
    win.zip(low).foreach { case (w, l) =>
      assert(w.getString(0) == l.getString(0) && w.getLong(1) == l.getLong(1))
      assert(w.getDouble(2) == l.getDouble(2)) // halves are exact doubles
    }
    assert(low.exists(_.isNullAt(0))) // the null group survived the join
  }

  test("spearman: monotone pair has rho 1, canonical ordering, pair count C(3,2)") {
    // mirrors tests/test_correlation.py:11-38 — 3 genes, 3 shared samples
    val rows = for {
      (g, vs) <- Seq("g1" -> Seq(1.0, 2.0, 3.0), "g2" -> Seq(2.0, 4.0, 6.0),
        "g3" -> Seq(9.0, 5.0, 1.0))
      (s, v) <- Seq("s1", "s2", "s3").zip(vs)
    } yield ("ST1", g, s, v)
    val df = rows.toDF("study", "gene", "sample", "v")
    val out = Spearman.pairCorrelations(df, Seq("study"), "gene", "sample", "v")
      .orderBy("item_a", "item_b").collect()
    assert(out.length == 3)
    val pairs = out.map(r => (r.getAs[String]("item_a"), r.getAs[String]("item_b"))).toSeq
    assert(pairs == Seq(("g1", "g2"), ("g1", "g3"), ("g2", "g3")))
    assert(pairs.forall { case (a, b) => a < b })
    val rho = out.map(r => (r.getAs[String]("item_a") -> r.getAs[String]("item_b"),
      r.getAs[Double]("rho"))).toMap
    assert(math.abs(rho(("g1", "g2")) - 1.0) < 1e-12)  // monotone up
    assert(math.abs(rho(("g1", "g3")) + 1.0) < 1e-12)  // monotone down
    out.foreach(r => assert(r.getAs[Long]("n_samples") == 3))
  }

  test("spearman: pairs with <2 shared samples are dropped") {
    // mirrors tests/test_correlation.py:41-50 — disjoint sample sets
    val df = Seq(("ST1", "g1", "s1", 1.0), ("ST1", "g1", "s2", 2.0),
      ("ST1", "g2", "s3", 5.0), ("ST1", "g2", "s4", 6.0))
      .toDF("study", "gene", "sample", "v")
    assert(Spearman.pairCorrelations(df, Seq("study"), "gene", "sample", "v").count() == 0)
  }

  test("spearman: constant vector pairs are dropped (NaN rho policy)") {
    val df = Seq(("ST1", "g1", "s1", 1.0), ("ST1", "g1", "s2", 2.0),
      ("ST1", "g2", "s1", 7.0), ("ST1", "g2", "s2", 7.0))
      .toDF("study", "gene", "sample", "v")
    assert(Spearman.pairCorrelations(df, Seq("study"), "gene", "sample", "v").count() == 0)
  }

  test("spearman: ranks over shared-sample intersection only (exact path)") {
    // g1 seen on s1..s4, g2 only on s2..s4; ranks must be computed on
    // the intersection {s2,s3,s4}. g1 values on intersection: 10,20,30
    // g2: 3,2,1 -> rho = -1 exactly.
    val df = Seq(
      ("ST1", "g1", "s1", 999.0), ("ST1", "g1", "s2", 10.0),
      ("ST1", "g1", "s3", 20.0), ("ST1", "g1", "s4", 30.0),
      ("ST1", "g2", "s2", 3.0), ("ST1", "g2", "s3", 2.0), ("ST1", "g2", "s4", 1.0))
      .toDF("study", "gene", "sample", "v")
    val out = Spearman.pairCorrelations(df, Seq("study"), "gene", "sample", "v").collect()
    assert(out.length == 1)
    assert(math.abs(out(0).getAs[Double]("rho") + 1.0) < 1e-12)
    assert(out(0).getAs[Long]("n_samples") == 3)
  }

  test("spearman: families do not cross-contaminate") {
    // same gene/sample names in two studies with opposite trends; the
    // (family, sample) equi-join must keep them apart
    val rows =
      Seq("s1", "s2", "s3").zipWithIndex.flatMap { case (s, i) =>
        Seq(("A", "g1", s, i + 1.0), ("A", "g2", s, i + 2.0),
          ("B", "g1", s, i + 1.0), ("B", "g2", s, 9.0 - i))
      }
    val df = rows.toDF("study", "gene", "sample", "v")
    val out = Spearman.pairCorrelations(df, Seq("study"), "gene", "sample", "v")
      .orderBy("study").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("study") == "A" &&
      math.abs(out(0).getAs[Double]("rho") - 1.0) < 1e-12)
    assert(out(1).getAs[String]("study") == "B" &&
      math.abs(out(1).getAs[Double]("rho") + 1.0) < 1e-12)
    out.foreach(r => assert(r.getAs[Long]("n_samples") == 3))
  }

  test("dense path matches exact path on a complete matrix") {
    val rng = new scala.util.Random(7)
    val rows = for {
      g <- (1 to 6).map(i => s"g$i"); s <- (1 to 10).map(i => s"s$i")
    } yield ("ST1", g, s, rng.nextDouble() * 100)
    val df = rows.toDF("study", "gene", "sample", "v")
    val exact = Spearman.pairCorrelations(df, Seq("study"), "gene", "sample", "v")
      .orderBy("item_a", "item_b").collect()
    val dense = Spearman.pairCorrelationsDense(df, Seq("study"), "gene", "sample", "v")
      .orderBy("item_a", "item_b").collect()
    assert(exact.length == 15 && dense.length == 15)
    exact.zip(dense).foreach { case (e, d) =>
      assert(e.getAs[String]("item_a") == d.getAs[String]("item_a"))
      assert(e.getAs[String]("item_b") == d.getAs[String]("item_b"))
      assert(math.abs(e.getAs[Double]("rho") - d.getAs[Double]("rho")) < 1e-12)
    }
  }

  test("dense path edge cases: 1 item yields empty; 2 items give one a < b pair") {
    val one = Seq(("ST1", "g1", "s1", 1.0), ("ST1", "g1", "s2", 2.0))
      .toDF("study", "gene", "sample", "v")
    assert(Spearman.pairCorrelationsDense(one, Seq("study"), "gene", "sample", "v").count() == 0)

    val two = Seq(("ST1", "b", "s1", 1.0), ("ST1", "b", "s2", 2.0),
      ("ST1", "a", "s1", 2.0), ("ST1", "a", "s2", 4.0))
      .toDF("study", "gene", "sample", "v")
    val out = Spearman.pairCorrelationsDense(two, Seq("study"), "gene", "sample", "v").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("item_a") == "a" && out(0).getAs[String]("item_b") == "b")
  }

  test("dense path: incomplete matrix pairs over shared samples with global ranks") {
    // g1 on s1..s4, g2 on s2..s4: global g1 ranks on the intersection
    // are (1,2,3) (s1's 999 is rank 4, excluded by the pair), g2 ranks
    // (3,2,1) -> rho = -1 over n = 3 shared samples.
    val df = Seq(
      ("ST1", "g1", "s1", 999.0), ("ST1", "g1", "s2", 10.0),
      ("ST1", "g1", "s3", 20.0), ("ST1", "g1", "s4", 30.0),
      ("ST1", "g2", "s2", 3.0), ("ST1", "g2", "s3", 2.0), ("ST1", "g2", "s4", 1.0))
      .toDF("study", "gene", "sample", "v")
    val out = Spearman.pairCorrelationsDense(df, Seq("study"), "gene", "sample", "v").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_samples") == 3)
    assert(math.abs(out(0).getAs[Double]("rho") + 1.0) < 1e-12)
  }

  test("p-value: null when n<3, 0 at |rho|=1, clamped to [0,1]") {
    val df = Seq((0.5, 10L), (1.0, 5L), (-1.0, 5L), (0.9, 2L), (0.0, 30L))
      .toDF("rho", "n")
    val got = df.withColumn("p", PValues.spearmanP(col("rho"), col("n"))).collect()
      .map(r => (r.getDouble(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    val m = got.map { case (r, n, p) => (r, n) -> p }.toMap
    assert(m((0.9, 2L)).isEmpty)                       // n<3 -> null
    assert(m((1.0, 5L)).contains(0.0))                 // perfect rho
    assert(m((-1.0, 5L)).contains(0.0))
    assert(math.abs(m((0.0, 30L)).get - 1.0) < 1e-8)   // rho=0 -> p=1
    val p05 = m((0.5, 10L)).get
    assert(p05 > 0 && p05 < 1)
    // Against the reference formula: t = .5*sqrt(8/.75)=1.63299,
    // p = 2*(1-Phi(1.63299)) = 0.10247 (normal approx)
    assert(math.abs(p05 - 0.10247) < 1e-4)
  }

  test("benjamini-hochberg: running-min from worst p, nulls stay null") {
    // family of 4 valid + 1 null p
    val df = Seq(("f", "a", Some(0.005)), ("f", "b", Some(0.009)),
      ("f", "c", Some(0.05)), ("f", "d", Some(0.1)), ("f", "e", None))
      .toDF("fam", "id", "p")
    val got = BenjaminiHochberg.qValues(df, Seq(col("fam")), col("p"), "q")
      .orderBy("id").collect()
      .map(r => r.getAs[String]("id") -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(got("e").isEmpty)
    assert(math.abs(got("a").get - 0.018) < 1e-12)  // min(0.02, 0.018)
    assert(math.abs(got("b").get - 0.018) < 1e-12)
    assert(math.abs(got("c").get - 0.05 * 4 / 3) < 1e-12)
    assert(math.abs(got("d").get - 0.1) < 1e-12)
  }

  test("benjamini-hochberg: q clamped to 1 and monotone in p") {
    val df = (1 to 20).map(i => ("f", i, i / 10.0 min 0.99)).toDF("fam", "id", "p")
    val got = BenjaminiHochberg.qValues(df, Seq(col("fam")), col("p"), "q")
      .orderBy("p").select("q").as[Double].collect()
    assert(got.forall(q => q >= 0 && q <= 1))
    assert(got.zip(got.tail).forall { case (a, b) => a <= b })
  }

  /** The pre-O(m log m) formulation, kept as an independent oracle:
    * the suffix min over `currentRow..unboundedFollowing` in ascending
    * p, which Spark recomputes per row (O(m²)).
    */
  private def qValuesSuffixFrame(df: org.apache.spark.sql.DataFrame,
      family: Seq[org.apache.spark.sql.Column], p: org.apache.spark.sql.Column,
      out: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val valid = p.isNotNull && !isnan(p)
    val fam = Window.partitionBy(family: _*)
    val byP = fam.orderBy(p.asc_nulls_last)
    val suffix = byP.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    df.withColumn("__m", sum(when(valid, 1L).otherwise(0L)).over(fam))
      .withColumn("__i", row_number().over(byP))
      .withColumn("__raw",
        when(valid, p * col("__m").cast("double") / col("__i").cast("double")))
      .withColumn(out, when(valid, least(min(col("__raw")).over(suffix), lit(1.0))))
      .drop("__m", "__i", "__raw")
  }

  test("benjamini-hochberg: q bit-identical to the suffix-frame oracle (ties, null, NaN, families)") {
    val rng = new scala.util.Random(23)
    // p on a 3-dp grid so ties are common; every family mixes in null
    // and NaN p; one family is all-invalid and one has a single row
    val rows = (for {
      fam <- Seq("f1", "f2", "f3"); i <- 1 to 400
    } yield {
      val p: Option[Double] = rng.nextInt(20) match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case _ => Some(math.round(rng.nextDouble() * 1000) / 1000.0)
      }
      (fam, s"$fam-$i", p)
    }) ++ Seq(("bad", "bad-1", None), ("bad", "bad-2", Some(Double.NaN)),
      ("one", "one-1", Some(0.25)))
    val df = rows.toDF("fam", "id", "p")
    def qs(out: org.apache.spark.sql.DataFrame): Map[String, Option[Long]] =
      out.select("id", "q").collect().map(r => r.getString(0) ->
        Option(r.get(1)).map(q => java.lang.Double.doubleToRawLongBits(q.asInstanceOf[Double])))
        .toMap
    val got = qs(BenjaminiHochberg.qValues(df, Seq(col("fam")), col("p"), "q"))
    val want = qs(qValuesSuffixFrame(df, Seq(col("fam")), col("p"), "q"))
    assert(got.size == rows.size)
    assert(got.count(_._2.isEmpty) == rows.count(r => r._3.forall(_.isNaN)))
    val diff = want.collect { case (id, q) if got(id) != q => (id, q, got(id)) }
    assert(diff.isEmpty, s"q differs from the oracle on ${diff.size} rows, e.g. ${diff.take(5)}")
    // tied p within a family share one q
    val byP = BenjaminiHochberg.qValues(df, Seq(col("fam")), col("p"), "q")
      .where(!isnan(col("p"))).groupBy("fam", "p").agg(countDistinct("q").as("nq"))
    assert(byP.where(col("nq") > 1).count() == 0)
  }

  test("benjamini-hochberg: no window frame runs currentRow..unboundedFollowing") {
    import org.apache.spark.sql.catalyst.expressions.{CurrentRow, SpecifiedWindowFrame,
      UnboundedFollowing, WindowExpression}
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Seq(("f", 0.01), ("f", 0.2), ("g", 0.03)).toDF("fam", "p")
    val plan = BenjaminiHochberg.qValues(df, Seq(col("fam")), col("p"), "q")
      .queryExecution.executedPlan
    val windows = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case w: WindowExec => w }
    assert(windows.nonEmpty, plan.toString)
    val frames = windows.flatMap(_.windowExpression.flatMap(_.collect {
      case w: WindowExpression => w.windowSpec.frameSpecification
    }))
    assert(frames.nonEmpty)
    val suffix = frames.collect {
      case f @ SpecifiedWindowFrame(_, CurrentRow, UnboundedFollowing) => f
    }
    assert(suffix.isEmpty, s"quadratic suffix frame in the BH plan: $suffix")
  }
}
