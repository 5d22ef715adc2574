package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** User-operation benchmark: drives the program's own CLI
  * (`graft.etl.Main.run`, in process, on one `GraftSession`) through
  * one workload, verifies the outputs, and prints one JSON line:
  *
  * {{{
  * perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The end-to-end metrics (`--trace 0`) are `setup_s`, `result_s`,
  * `rows_per_s` and `stored_bytes_per_row`; `--trace 1` reports the
  * per-layer metrics of [[Trace]] instead and writes the span tree.
  * See perfbench/README.md.
  */
object Bench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cores: Int)

  /** One timed user operation.
    *
    * @param resultS   seconds until the operation's results are committed
    * @param rateRows  rows the rate counts (facts, pairs or input docs)
    * @param rateS     seconds of the call that produced them
    * @param stored    bytes of files the operation left behind
    * @param storedRows rows those bytes hold
    */
  final case class OpResult(resultS: Double, rateRows: Long, rateS: Double, stored: Long,
      storedRows: Long)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m.get("cores").map(_.toInt).getOrElse(4))
    val ctx = new Ctx(o)
    val wl: Workload = o.workload match {
      case "ingest_incremental" => new IngestIncremental(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val line = try run(ctx, wl) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    println(line)
  }

  private def run(ctx: Ctx, wl: Workload): String = {
    val o = ctx.opts
    val trace = ctx.trace
    trace.warehouseRoots = wl.warehouseRoots
    trace.span("generate", "bench")(wl.generate())

    // set-up: the session is started several times (the median counts),
    // then the pre-load runs once on the last session
    val starts = (1 to Ctx.SetupReps).map { _ =>
      Option(ctx.spark).foreach(_.stop())
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      ctx.spark = trace.span("session start", "bench")(graft.GraftSession.getOrCreate("perfbench"))
      (System.nanoTime() - t0) / 1e9
    }
    val p0 = System.nanoTime()
    trace.span("preload", "bench")(wl.preload())
    val preloadS = (System.nanoTime() - p0) / 1e9
    val setupS = median(starts) + preloadS
    System.err.println(f"[perfbench] session starts: ${starts.map(x => f"$x%.3f").mkString(", ")} s; " +
      f"preload: $preloadS%.3f s")

    // the first iterations warm the JVM and are not counted; in a traced
    // run the counted iterations go untraced, traced, traced, untraced
    // (so a warm-up trend cancels), and the difference of the two
    // medians is the tracing overhead
    val results = scala.collection.mutable.ArrayBuffer.empty[(OpResult, Boolean)]
    val layer = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var heapPeak = 0.0
    var cachedAfter = 0.0
    val t0 = System.nanoTime()
    var i = 0
    val warmups = wl.warmups
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minIters = warmups + (if (o.trace) math.max(4, wl.minIters) else wl.minIters)
    while (i < minIters || elapsed < o.seconds) {
      val traced = o.trace && i >= warmups && Set(1, 2)((i - warmups) % 4)
      wl.prepare(i)
      if (traced) { trace.reset(); trace.start() }
      val heap = if (traced) Some(new HeapSampler) else None
      val before = trace.spans.size
      val r = trace.span(s"iteration $i", "bench")(ctx.attempt(s"${o.workload} iteration $i")(wl.op(i)))
      if (traced) {
        val ops = trace.spans.drop(before).filter(_.layer != "bench")
        layer += trace.snapshot(ops.toSeq, o.cores) ++
          Map("warehouse.files_written" -> wl.lastFilesWritten.toDouble)
        trace.stop()
        heapPeak = math.max(heapPeak, heap.get.finish())
        cachedAfter = cachedMb(ctx.spark)
      }
      r.foreach(res => if (i >= warmups) results += ((res, traced)))
      System.err.println(f"[perfbench] iteration $i%d${if (traced) " (traced)" else ""}%s: " +
        r.map(x => f"${x.resultS}%.3f s").getOrElse("failed"))
      i += 1
    }
    val v0 = System.nanoTime()
    trace.span("verify", "bench")(wl.verify())
    System.err.println(f"[perfbench] verify: ${(System.nanoTime() - v0) / 1e9}%.3f s")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val rs = results.map(_._1).toSeq
        Seq(
          ("setup_s", setupS, "s"),
          ("result_s", median(rs.map(_.resultS)), "s"),
          ("rows_per_s", median(rs.map(r => r.rateRows / r.rateS)), "1/s"),
          ("stored_bytes_per_row", median(rs.map(r => r.stored.toDouble / r.storedRows)), "bytes"))
      } else {
        val (tr, un) = results.partition(_._2)
        def med(s: Iterable[(OpResult, Boolean)], f: OpResult => Double) =
          median(s.map(x => f(x._1)).toSeq)
        val keys = layer.headOption.map(_.keys.toSeq.sorted).getOrElse(Seq.empty)
        keys.map(k => (k, layer.map(_(k)).sum / layer.size, Ctx.unitOf(k))) ++ Seq(
          ("session.start_s", median(starts), "s"),
          ("memory.heap_peak_mb", heapPeak, "MB"),
          ("memory.cached_mb_after", cachedAfter, "MB"),
          ("trace.overhead_result_s", med(tr, _.resultS) - med(un, _.resultS), "s"),
          ("trace.overhead_rows_per_s",
            med(tr, r => r.rateRows / r.rateS) - med(un, r => r.rateRows / r.rateS), "1/s"))
      }
    val ms = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    if (o.trace) {
      val out = o.work.getParent.resolve(s"trace-${o.workload}-seed${o.seed}.json")
      Files.write(out, (s"""{"workload": ${Json.str(o.workload)}, "seed": ${o.seed},\n""" +
        s""" "metrics": {\n  ${ms.mkString(",\n  ")}\n },\n "spans": ${trace.spansJson()}}\n""")
        .getBytes(UTF_8))
      System.err.println(s"trace written to $out")
    }
    ctx.spark.stop()
    s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak live heap while it runs: heap in use right after the most
    * recent collection of each pool, sampled every 50 ms.
    */
  private final class HeapSampler extends Thread("perfbench-heap") {
    private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    @volatile private var peak = 0L
    @volatile private var running = true
    setDaemon(true)
    start()
    override def run(): Unit = while (running) {
      peak = math.max(peak, pools.map(_.getCollectionUsage.getUsed).sum)
      Thread.sleep(50)
    }
    def finish(): Double = { running = false; join(); peak / 1048576.0 }
  }

  /** Blocks still cached or checkpointed after the operation. */
  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
}

/** Shared run state: the session, the trace, and the failure count. */
final class Ctx(val opts: Bench.Opts) {
  var spark: SparkSession = _
  val trace = new Trace(this)
  var attempted = 0L
  var failed = 0L

  def fail(msg: String): Unit = { failed += 1; System.err.println(s"FAILED: $msg") }

  /** Counts one operation; an exception counts as its failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
        None
    }
  }

  /** Counts one output check. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  /** Runs one CLI command in process; returns its exit code and stdout.
    * The call is a span of the layer the command belongs to.
    */
  def cli(layer: String, args: String*): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = trace.span(s"cli ${args.head}", layer) {
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        graft.etl.Main.run(args.toArray, spark)
      }
    }
    val text = out.toString("UTF-8")
    if (code != 0) fail(s"${args.mkString(" ")} exited $code: $text")
    (code, text)
  }
}

object Ctx {
  val SetupReps = 5

  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms" else if (k.endsWith("_mb")) "MB"
    else if (k.startsWith("warehouse.bytes")) "bytes"
    else if (k.endsWith("_frac") || k.endsWith("_share")) "fraction"
    else "count"
}
