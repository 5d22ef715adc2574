package graft.ops

import graft.SparkSpec

/** As-of join semantics (AsOfJoin.scala): at-or-before pick, co-timed
  * tie, carry-forward across multiple probes, no-prior-row null,
  * per-key isolation.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("asof: most recent at-or-before per key; null before first; keys isolated") {
    val left = Seq(
      // (id, key, t, lv)
      (1L, "u1", 5L, 0.5),
      (2L, "u1", 10L, 0.6),   // co-timed with a right row: joins it
      (3L, "u1", 15L, 0.7),
      (4L, "u1", 30L, 0.8),
      (5L, "u2", 50L, 0.9),   // u2 has no right rows at all
      (6L, "u3", 5L, 1.0)     // before u3's only right row
    ).toDF("id", "key", "t", "lv")
    val right = Seq(
      ("u1", 10L, 100.0),
      ("u1", 20L, 200.0),
      ("u3", 7L, 300.0)
    ).toDF("key", "t", "rv")

    val got = AsOfJoin.asof(left, right, Seq("key"), "t", Seq("rv"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Double]("rv")).map(_.toDouble)).toMap

    assert(got(1L).isEmpty)            // t=5 before first right t=10
    assert(got(2L).contains(100.0))    // co-timed <= joins
    assert(got(3L).contains(100.0))    // carried forward
    assert(got(4L).contains(200.0))    // superseded by t=20
    assert(got(5L).isEmpty)            // key with no right side
    assert(got(6L).isEmpty)            // before u3's right row
    // left columns all preserved
    val cols = AsOfJoin.asof(left, right, Seq("key"), "t", Seq("rv")).columns.toSeq
    assert(cols == Seq("id", "key", "t", "lv", "rv"))
  }

  test("asof: a later right row with NULL payload supersedes an earlier value (row-atomic carry)") {
    val left = Seq((1L, "u", 10L)).toDF("id", "key", "t")
    val right = Seq(
      ("u", 1L, Some(10.0), Some(1.0)),
      ("u", 5L, None, Some(2.0))        // latest at-or-before: rv null, rw 2.0
    ).toDF("key", "t", "rv", "rw")
    val got = AsOfJoin.asof(left, right, Seq("key"), "t", Seq("rv", "rw")).head
    assert(got.isNullAt(got.fieldIndex("rv")))            // NOT 10.0 from the older row
    assert(got.getAs[Double]("rw") == 2.0)                // both fields from the SAME row
  }

  test("asof: payload name collision with left rejected") {
    val l = Seq((1L, "k", 1L, 1.0)).toDF("id", "key", "t", "rv")
    val r = Seq(("k", 1L, 2.0)).toDF("key", "t", "rv")
    assertThrows[IllegalArgumentException](
      AsOfJoin.asof(l, r, Seq("key"), "t", Seq("rv")))
  }

  private def mirrorFixture = {
    val left = Seq(
      (1L, "u1", 5L),    // before first right row
      (2L, "u1", 10L),   // co-timed with right t=10
      (3L, "u1", 15L),   // between 10 and 20
      (4L, "u1", 30L),   // after last right row
      (5L, "u2", 50L)    // key with no right rows
    ).toDF("id", "key", "t")
    val right = Seq(
      ("u1", 10L, 100.0),
      ("u1", 20L, 200.0)
    ).toDF("key", "t", "rv")
    (left, right)
  }

  test("asofForward: first at-or-after per key; null after last; co-timed joins") {
    val (left, right) = mirrorFixture
    val got = AsOfJoin.asofForward(left, right, Seq("key"), "t", Seq("rv"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Double]("rv")).map(_.toDouble)).toMap
    assert(got(1L).contains(100.0))   // t=5 looks forward to t=10
    assert(got(2L).contains(100.0))   // co-timed >= joins
    assert(got(3L).contains(200.0))   // next at-or-after is t=20
    assert(got(4L).isEmpty)           // nothing after t=30
    assert(got(5L).isEmpty)           // key with no right side
  }

  test("asofBoth: one pass carries both directions; plan has one exchange") {
    val (left, right) = mirrorFixture
    val both = AsOfJoin.asofBoth(left, right, Seq("key"), "t", Seq("rv"))
    val got = both.collect().map(r => r.getAs[Long]("id") ->
      ((Option(r.getAs[java.lang.Double]("bwd_rv")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("fwd_rv")).map(_.toDouble)))).toMap
    assert(got(1L) == ((None, Some(100.0))))
    assert(got(2L) == ((Some(100.0), Some(100.0))))
    assert(got(3L) == ((Some(100.0), Some(200.0))))
    assert(got(4L) == ((Some(200.0), None)))
    assert(got(5L) == ((None, None)))
    // the two directional windows must share the key exchange: a
    // second shuffle would mean nearest pays two joins after all.
    // (An executed AdaptiveSparkPlan prints Final AND Initial plans —
    // count only the effective one.)
    val exchanges = both.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 key exchange, saw $exchanges")
  }

  test("asofForward/asofBoth: a null-time left row matches NOTHING (SQL inequality with null)") {
    // regression: nulls-first time ordering put the null-time left row
    // at the partition head, handing it the entire following frame as
    // spurious forward matches
    val left = Seq((1L, "u", Some(5L)), (2L, "u", None)).toDF("id", "key", "t")
    val right = Seq(("u", 10L, 100.0)).toDF("key", "t", "rv")
    val fwd = AsOfJoin.asofForward(left, right, Seq("key"), "t", Seq("rv"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Double]("rv"))).toMap
    assert(fwd(1L).contains(100.0))
    assert(fwd(2L).isEmpty, "null-time left row must not match forward")
    val both = AsOfJoin.asofBoth(left, right, Seq("key"), "t", Seq("rv"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[java.lang.Double]("bwd_rv")),
          Option(r.getAs[java.lang.Double]("fwd_rv"))))).toMap
    assert(both(2L) == ((None, None)))
  }

  test("asofNearest: closer side wins, exact tie goes backward, single-sided rows fall through") {
    val left = Seq(
      (1L, "u", 12L),   // 2 from t=10, 8 from t=20 -> backward
      (2L, "u", 18L),   // 8 vs 2 -> forward
      (3L, "u", 15L),   // exact tie -> backward
      (4L, "u", 3L),    // only forward exists
      (5L, "u", 25L)    // only backward exists (after last)
    ).toDF("id", "key", "t")
    val right = Seq(
      ("u", 10L, 100.0, 10L),
      ("u", 20L, 200.0, 20L)
    ).toDF("key", "t", "rv", "mt")
    val got = AsOfJoin.asofNearest(left, right, Seq("key"), "t",
      Seq("rv", "mt"), "mt")
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Double]("rv")).map(_.toDouble)).toMap
    assert(got(1L).contains(100.0))
    assert(got(2L).contains(200.0))
    assert(got(3L).contains(100.0))   // tie -> backward, like pandas
    assert(got(4L).contains(100.0))   // forward fallback
    assert(got(5L).contains(200.0))   // backward only
  }

  test("forward/both/nearest equal the currentRow..unboundedFollowing formulation they replaced") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(31)
    // times on a 0..7 grid so left and right rows are often co-timed;
    // right rows repeat (key, t, payload) exactly and tie on time with
    // differing payloads; some left times and keys are null
    val left = (1L to 300L).map { id =>
      (id, if (rng.nextInt(15) == 0) None else Some(s"k${rng.nextInt(4)}"),
        if (rng.nextInt(10) == 0) None else Some(rng.nextInt(8).toLong))
    }.toDF("id", "key", "t")
    val right = (1 to 60).flatMap { _ =>
      val t = rng.nextInt(8).toLong
      val row = (s"k${rng.nextInt(4)}", t,
        if (rng.nextInt(6) == 0) None else Some(rng.nextInt(3).toDouble), t)
      if (rng.nextBoolean()) Seq(row, row) else Seq(row)
    }.toDF("key", "t", "rv", "mt")
    val keys = Seq("key")
    val payload = Seq("rv", "mt")
    type Pick = (Option[Double], Option[Long])
    def picks(df: org.apache.spark.sql.DataFrame, rv: String, mt: String): Map[Long, Pick] =
      df.select(col("id"), col(rv), col(mt)).collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.get(2)).map(_.asInstanceOf[Long]))))
        .toMap
    val oldWindow = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("t").asc_nulls_last, col("__side").desc, col("__p").desc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val oldFwd = picks(AsOfJoin.taggedUnion(left, right, keys, "t", payload)
      .withColumn("__p", first(col("__p"), ignoreNulls = true).over(oldWindow))
      .where(col("__side") === 1)
      .select(col("id"), col("__p.rv").as("rv"), col("__p.mt").as("mt")), "rv", "mt")
    assert(oldFwd.size == 300 && oldFwd.values.exists(_._2.nonEmpty))

    assert(picks(AsOfJoin.asofForward(left, right, keys, "t", payload), "rv", "mt") == oldFwd)
    val both = AsOfJoin.asofBoth(left, right, keys, "t", payload)
    assert(picks(both, "fwd_rv", "fwd_mt") == oldFwd)
    val bwd = picks(AsOfJoin.asof(left, right, keys, "t", payload), "rv", "mt")
    assert(picks(both, "bwd_rv", "bwd_mt") == bwd)
    val times = left.collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    val nearest = oldFwd.map { case (id, f) =>
      val b = bwd(id)
      val pickBackward = b._2.nonEmpty && (f._2.isEmpty ||
        times(id).exists(t => t - b._2.get <= f._2.get - t))
      id -> (if (pickBackward) b else f)
    }
    assert(picks(AsOfJoin.asofNearest(left, right, keys, "t", payload, "mt"), "rv", "mt") == nearest)
  }
}
