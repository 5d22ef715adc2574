package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Streaming twins against their batch twins, in the suite rather than
  * only through the external oracle sweep. The pairs are derived from
  * `SparkEntry.oracleSql`: a stream query whose oracle SQL is the same
  * string as a batch query's is one logical query executed twice, so
  * both executions must return the same rows.
  */
class StreamParitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def available = new java.io.File(sfDir).isDirectory

  private def isStream(name: String) = name.contains("_stream_")

  /** stream query -> batch twin. Where several batch queries share the
    * SQL (x2 and the s10-s18 source-format queries), the twin is the
    * one outside the source-format family.
    */
  private lazy val pairs: Map[String, String] = {
    val sql = SparkEntry.oracleSql
    SparkEntry.queries.keys.filter(isStream).toSeq.flatMap { st =>
      val twins = SparkEntry.queries.keys
        .filter(b => !isStream(b) && sql.get(b) == sql.get(st) && sql.contains(b)).toSeq
      twins.sortBy(b => (b.matches("s\\d+_.*"), b)).headOption.map(st -> _)
    }.toMap
  }

  /** Rows with columns in name order, sorted. */
  private def canon(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect().toSeq
      .map((r: Row) => r.toSeq)
      .sortBy(_.mkString("\u0001"))
  }

  private def assertSameRows(stream: String, batch: String, dir: String): Unit = {
    val got = SparkEntry.queries(stream)(spark, dir)
    val want = SparkEntry.queries(batch)(spark, dir)
    assert(got.columns.sorted.toSeq == want.columns.sorted.toSeq,
      s"$stream vs $batch: columns differ")
    val (g, w) = (canon(got), canon(want))
    assert(w.nonEmpty, s"$batch returned no rows; the comparison would be vacuous")
    assert(g.size == w.size, s"$stream returned ${g.size} rows, $batch ${w.size}")
    // the oracle sweep's tolerance: doubles within 1e-9, all else exact
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9
      case _                      => a == b
    }
    val firstDiff = g.zip(w).indexWhere { case (a, b) =>
      a.size != b.size || a.zip(b).exists { case (x, y) => !same(x, y) }
    }
    if (firstDiff >= 0)
      fail(s"$stream vs $batch differ at sorted row $firstDiff: ${g(firstDiff)} vs ${w(firstDiff)}")
  }

  test("the oracle SQL pairs every stream twin with its batch query") {
    assert(pairs == Map(
      "x7_stream_hourly" -> "x2_hourly_agg",
      "x8_stream_sessionize" -> "x3_sessionize",
      "x9_stream_interval_join" -> "x6_interval_join",
      "x13_stream_sliding" -> "x11_sliding_agg",
      "x14_stream_session_window" -> "x12_session_window",
      "x20_stream_latest" -> "d5_latest_snapshot",
      "x30_stream_ann_serve" -> "p42_ivf_incremental",
      "p16_stream_dedup" -> "p1_dedup_exact"))
  }

  test("every stream twin returns its batch twin's rows at sf0.001") {
    assume(available, s"$sfDir not present")
    pairs.toSeq.sorted.foreach { case (st, b) => assertSameRows(st, b, sfDir) }
  }

  test("event streams read every part file of a directory-form events table") {
    assume(available, s"$sfDir not present")
    // a Spark-written fixture: events.parquet is a DIRECTORY of part files
    val dir = tmpDir("graft-dirform")
    try {
      spark.read.parquet(s"$sfDir/events.parquet").repartition(2)
        .write.parquet(dir.resolve("events.parquet").toString)
      val parts = java.nio.file.Files.list(dir.resolve("events.parquet")).toArray
        .count(_.toString.endsWith(".parquet"))
      assert(parts >= 2, s"fixture has $parts part files")
      // x10 stages the events source first; every later event stream on
      // the same dir reuses that staging
      val x10Events = SparkEntry.queries("x10_stream_static_join")(spark, dir.toString)
        .collect().map(_.getAs[Long]("n_events")).sum
      assert(x10Events == spark.read.parquet(s"$sfDir/events.parquet").count(),
        "x10 streamed a partial events table")
      assertSameRows("x7_stream_hourly", "x2_hourly_agg", dir.toString)
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
  }
}
