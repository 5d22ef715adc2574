package graft.ops

import graft.SparkSpec
import graft.stats.Spearman
import org.apache.spark.sql.functions._

/** Shuffle-VOLUME proofs for the two central scale claims — measured
  * with QueryMetrics, not asserted from plan text.
  *
  * SURVEY §9 claims the dense Spearman path shuffles O(I·n) sufficient
  * statistics while the windowed formulation shuffles O(P·n) ranked
  * pair rows (P = I(I-1)/2 pairs). At I=40 that is a ~20× row blow-up
  * the bytes must show, and the gap GROWS quadratically with I — this
  * is the difference between a 100 TB corpus shuffling terabytes vs
  * petabytes on the same query.
  */
class ShuffleBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("dense Spearman shuffles an order less than the P·n pair formulation (measured bytes)") {
    // 1 family × 40 items × 200 samples, complete matrix: P = 780
    val rows = for (i <- 0 until 40; s <- 0 until 200) yield
      ("f", s"item_$i", s.toLong, math.sin(i * 31 + s * 7) * 100)
    val df = rows.toDF("fam", "item", "sk", "v").cache()
    df.count()
    try {
      val dense = QueryMetrics.measure(
        Spearman.pairCorrelationsDense(df, Seq("fam"), "item", "sk", "v"))
      val windowed = QueryMetrics.measure(
        Spearman.pairCorrelationsWindowed(df, Seq("fam"), "item", "sk", "v"))
      info(s"dense: $dense")
      info(s"windowed: $windowed")
      assert(dense.shuffleRecordsWritten > 0, "dense path measured no shuffle at all")
      // records: dense carries ~I·n rank rows + pair aggregates;
      // windowed carries P·n joined rows through TWO rank windows.
      // Demand a 5× records gap (the theoretical gap is ~20×) so the
      // assertion stays robust to partial-agg variation.
      assert(windowed.shuffleRecordsWritten > 5 * dense.shuffleRecordsWritten,
        s"windowed ${windowed.shuffleRecordsWritten} vs dense " +
          s"${dense.shuffleRecordsWritten}: the P·n blow-up is missing — " +
          "did the dense path regress to shuffling pair rows?")
      assert(windowed.shuffleWriteBytes > 3 * dense.shuffleWriteBytes,
        s"windowed ${windowed.shuffleWriteBytes}B vs dense " +
          s"${dense.shuffleWriteBytes}B")
    } finally { df.unpersist(); () }
  }

  test("all-broadcast star join shuffles only final-aggregate partials (measured bytes)") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists())
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    val supp = spark.read.parquet(s"$sfDir/supplier.parquet")
    val q = li
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand")).agg(round(sum(col("l_extendedprice")), 4).as("s"))
    val m = QueryMetrics.measure(q)
    info(s"star join: $m")
    val factBytes = new java.io.File(s"$sfDir/lineitem.parquet").length()
    // broadcast joins move the dims via broadcast (not shuffle); the
    // only exchange is the tiny per-brand partial-aggregate table, so
    // shuffled bytes must be far below even this small fact file
    assert(m.shuffleWriteBytes < factBytes / 10,
      s"star join shuffled ${m.shuffleWriteBytes}B against a ${factBytes}B fact " +
        "file — a dim join is shuffling the fact side")
  }
}
