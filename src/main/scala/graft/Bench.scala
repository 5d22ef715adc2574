package graft
import scala.util.control.NonFatal

/** Benchmark main: per-query min-of-3 timings over
  * SparkEntry.benchQueries, printed as JSON on stdout. Same engine
  * config as Verify (GraftSession.builder).
  *
  * Stdout ends with TWO lines tagged `"metric":"total"`: a compact
  * headline, then the full record (the same headline fields plus the
  * per-query `queries` and `spread` dicts). The LAST line is the
  * authoritative record; the compact one is a copy of its headline
  * that survives a short tail capture. A consumer must take the last
  * `"metric":"total"` line, never the first. bench_out.json holds the
  * full record too.
  */
object Bench {
  /** A failed query must read as a regression, not a speedup: without
    * the sentinel, a plan-time exception takes ~50 ms and min-of-two
    * would report the broken query as the fastest in the suite.
    */
  private val FailureSentinelSec = 1e6

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one warm-up action so JVM/classloader startup isn't billed to the
    // first query
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def once(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return FailureSentinelSec
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Three passes, min per query: single-shot numbers at this scale are
    // dominated by first-run codegen compilation + C2 JIT of each
    // query's unique generated classes (measured 2-3x run-to-run noise);
    // the min is the steady-state cost of the plan itself. min-of-two
    // still let noise masquerade as regression (round-2 verdict: five
    // shared queries moved >50% with no causal commit) — the third pass
    // plus the reported per-query spread (max-min) separates plan cost
    // from load/GC variance.
    val passes = 3
    val all: Seq[Seq[(String, Double)]] =
      (1 to passes).map(_ => SparkEntry.benchQueries.map(n => n -> once(n)))
    val byQuery = SparkEntry.benchQueries.map { n =>
      val ts = all.map(_.toMap.apply(n))
      (n, ts.min, ts.max - ts.min)
    }
    // 3-decimal precision: the round-3 artifact lost its queries dict
    // to the driver's bounded tail capture because full-precision
    // doubles doubled the line length. Locale.ROOT pins '.' decimals.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = byQuery.map { case (k, v, _) => JsonUtil.quote(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val spread = byQuery.map { case (k, _, d) => JsonUtil.quote(k) + ":" + fmt(d) }
      .mkString("{", ",", "}")
    val total = byQuery.map(_._2).sum
    // A failed query rides in the ARTIFACT, not only in stderr: the
    // round-5 headline (8e6 s = 8 sentinels) was unreadable without
    // cross-referencing stderr noise. `failed` names the sentinel
    // queries and `ok_value` is the total over the surviving ones — the
    // sane throughput number when value is sentinel-poisoned.
    val failedNames = byQuery.collect { case (n, v, _) if v >= FailureSentinelSec => n }
    val failedJson = failedNames.map(JsonUtil.quote).mkString("[", ",", "]")
    val okTotal = byQuery.collect { case (_, v, _) if v < FailureSentinelSec => v }.sum
    // Measurement-visibility fix (round 15): stdout used to carry only
    // the headline numbers because the round-3/4 per-query dicts
    // outgrew the driver's bounded tail capture. That left the driver
    // with NO per-query data at all (PERF_r14 per_query: {}), so a
    // single-query regression could hide inside a falling total. The
    // full line (queries + spread) is now the LAST stdout line. Two
    // defenses against a bounded tail capture:
    //  - the compact headline line still prints FIRST (greppable, and
    //    bench_out.json keeps the full artifact regardless);
    //  - the full line puts the per-query dicts BEFORE the headline
    //    fields, so even a capture that keeps only the last ~2 KB of
    //    output still shows ...,"metric":"total","value":N,...,"sf":...}
    //    human-readably at the very end.
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","passes":$passes,"n":${byQuery.size},"ok_value":${fmt(okTotal)},"failed":$failedJson,"sf":${JsonUtil.quote(sfDir)}}"""
    val full =
      s"""{"queries":$qs,"spread":$spread,"metric":"total","value":${fmt(total)},"unit":"sec","passes":$passes,"n":${byQuery.size},"ok_value":${fmt(okTotal)},"failed":$failedJson,"sf":${JsonUtil.quote(sfDir)}}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(e) => System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}") }
    // both metric lines print LAST, after spark.stop's chatter, so the
    // driver's tail capture always sees them — even a failed stop must
    // not swallow them. Order: compact first (insurance), full last
    // (the line the driver parses for per-query visibility).
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    println(line)
    println(full)
    Console.out.flush()
  }
}
