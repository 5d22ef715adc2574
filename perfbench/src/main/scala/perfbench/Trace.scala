package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span: one call the benchmark makes into a layer, or one Spark job
  * observed inside such a call.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Long, var endMs: Long = -1L)

/** Per-layer observation from OUTSIDE the program: a [[SparkListener]],
  * a [[QueryExecutionListener]], a streaming query listener and codegen
  * counters, registered on the session only while tracing is on.
  *
  * Each Spark job (and its stages and tasks) is attributed to the module
  * of the first `graft.` frame in the call site of the SQL execution
  * that ran it, else of its stages. The rules:
  * `*Warehouse.scala` → warehouse, `CorrelationJob` and `stats/` →
  * stats, `etl/` → etl, `ops/` and `functions/` → ops, `streaming/` →
  * streaming, anything else → other.
  */
final class Trace(ctx: Ctx) {
  import Trace._

  private def spark: SparkSession = ctx.spark
  /** Directories whose file scans count as warehouse reads. */
  @volatile var warehouseRoots: Seq[String] = Nil

  // ---- spans --------------------------------------------------------------
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer,
      System.currentTimeMillis())
    spans.synchronized(spans += s)
    stack = s :: stack
    try body finally { s.endMs = System.currentTimeMillis(); stack = stack.tail }
  }

  // ---- counters -------------------------------------------------------------
  private final class Acc {
    var jobs, stages, tasks, checkpointJobs = 0L
    var taskMs, cpuNs, gcMs, shufWrite, shufRead, spill, outBytes = 0L
  }
  private val byModule = new ConcurrentHashMap[String, Acc]()
  private def acc(m: String) = byModule.computeIfAbsent(m, _ => new Acc)
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  /** Completed jobs as (start ms, end ms, module): since the last
    * reset, and since tracing began (for the span tree).
    */
  private val jobs, allJobs = mutable.ArrayBuffer.empty[(Long, Long, String)]
  @volatile var planMs, queryExecs, bytesReadWh = 0L
  @volatile var batches, batchMs = 0L

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        moduleOf(s.details).foreach(m => execModule.put(s.executionId, m))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val m = exec.flatMap(x => Option(execModule.get(x)))
        .orElse(e.stageInfos.iterator.flatMap(s => moduleOf(s.details)).nextOption())
        .getOrElse("other")
      e.stageIds.foreach(stageModule.put(_, m))
      jobStart.put(e.jobId, (e.time, m))
      val a = acc(m)
      a.synchronized {
        a.jobs += 1
        if (e.stageInfos.exists(s => s.name.startsWith("localCheckpoint") ||
            s.name.startsWith("checkpoint"))) a.checkpointJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, m) =>
        jobs.synchronized { jobs += ((t0, e.time, m)); allJobs += ((t0, e.time, m)) }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val a = acc(stageModule.getOrDefault(e.stageInfo.stageId, "other"))
      a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageModule.getOrDefault(e.stageId, "other"))
      Option(e.taskMetrics).foreach { t =>
        a.synchronized {
          a.tasks += 1
          a.taskMs += t.executorRunTime
          a.cpuNs += t.executorCpuTime
          a.gcMs += t.jvmGCTime
          a.shufWrite += t.shuffleWriteMetrics.bytesWritten
          a.shufRead += t.shuffleReadMetrics.totalBytesRead
          a.spill += t.diskBytesSpilled
          a.outBytes += t.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      observe(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      observe(qe)
  }

  private def observe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val read = try scannedWarehouseBytes(qe.executedPlan, warehouseRoots) catch {
      case _: Exception => 0L
    }
    synchronized { planMs += ms; queryExecs += 1; bytesReadWh += read }
  }

  private val streamListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      batches += 1
      batchMs += e.progress.batchDuration
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private val codegen = new CodegenLog

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegen.install()
  }

  def stop(): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    codegen.uninstall()
  }

  /** Counters since the last reset, with time covered by jobs within
    * each of the given op spans.
    */
  def snapshot(opSpans: Seq[Span], cores: Int): Map[String, Double] = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val mods = Seq("etl", "warehouse", "stats", "ops", "streaming", "other")
    val a = mods.map(m => m -> Option(byModule.get(m)).getOrElse(new Acc)).toMap
    val all = a.values
    def sum(f: Acc => Long) = all.iterator.map(f).sum.toDouble
    val wall = opSpans.map(s => s.endMs - s.startMs).sum / 1000.0
    val js = jobs.synchronized(jobs.toList)
    // seconds of the span during which no job was running
    def idle(s: Span): Double = (s.endMs - s.startMs -
      union(js.map(j => (math.max(j._1, s.startMs), math.min(j._2, s.endMs))).filter(j => j._2 > j._1))) / 1000.0
    val gap = opSpans.map(idle).sum
    val etlDriver = opSpans.filter(s => s.layer == "etl" || s.layer == "streaming").map(idle).sum
    val totalJobs = sum(_.jobs)
    val mb = 1024.0 * 1024.0
    val execTaskS = sum(_.taskMs) / 1000.0
    val (cg, cgMs) = codegen.read()
    Map(
      "scheduler.jobs" -> totalJobs,
      "scheduler.stages" -> sum(_.stages),
      "scheduler.tasks" -> sum(_.tasks),
      "scheduler.driver_gap_s" -> gap,
      "catalyst.plan_ms" -> planMs.toDouble,
      "catalyst.query_execs" -> queryExecs.toDouble,
      "codegen.classes" -> cg.toDouble,
      "codegen.compile_ms" -> cgMs,
      "etl.jobs" -> a("etl").jobs.toDouble,
      "etl.driver_s" -> etlDriver,
      "warehouse.jobs" -> a("warehouse").jobs.toDouble,
      "warehouse.bytes_written" -> a("warehouse").outBytes.toDouble,
      "warehouse.bytes_read" -> bytesReadWh.toDouble,
      "stats.jobs" -> a("stats").jobs.toDouble,
      "stats.task_s" -> a("stats").taskMs / 1000.0,
      "stats.shuffle_mb" -> (a("stats").shufWrite + a("stats").shufRead) / mb,
      "ops.jobs" -> a("ops").jobs.toDouble,
      "ops.task_s" -> a("ops").taskMs / 1000.0,
      "ops.shuffle_mb" -> (a("ops").shufWrite + a("ops").shufRead) / mb,
      "ops.checkpoint_jobs" -> a("ops").checkpointJobs.toDouble,
      "streaming.jobs" -> a("streaming").jobs.toDouble,
      "streaming.batches" -> batches.toDouble,
      "streaming.batch_s" -> batchMs / 1000.0,
      "shuffle.write_mb" -> sum(_.shufWrite) / mb,
      "shuffle.read_mb" -> sum(_.shufRead) / mb,
      "shuffle.spill_mb" -> sum(_.spill) / mb,
      "executor.task_s" -> execTaskS,
      "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
      "executor.gc_s" -> sum(_.gcMs) / 1000.0,
      "executor.busy_frac" -> (if (wall > 0) execTaskS / (wall * cores) else 0.0),
      "other.job_share" -> (if (totalJobs > 0) a("other").jobs / totalJobs else 0.0),
      "other.task_share" -> (if (execTaskS > 0) a("other").taskMs / 1000.0 / execTaskS else 0.0))
  }

  def reset(): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    byModule.clear(); jobs.synchronized(jobs.clear())
    synchronized { planMs = 0; queryExecs = 0; bytesReadWh = 0; batches = 0; batchMs = 0 }
    codegen.reset()
  }

  /** The span tree plus the job spans, as JSON. */
  def spansJson(): String = {
    val js = jobs.synchronized(allJobs.toList)
    val ops = spans.toList
    val jobSpans = js.zipWithIndex.map { case ((t0, t1, m), k) =>
      val parent = ops.filter(s => s.startMs <= t0 && t1 <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
      Span(ops.size + k, parent, "job", m, t0, t1)
    }
    (ops ++ jobSpans).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Trace {

  /** Module of the first `graft.` frame of a long-form call site. */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).flatMap(_.linesIterator.map(_.trim).find(_.startsWith("graft.")))
      .map { frame =>
        val file = frame.substring(frame.lastIndexOf('(') + 1).takeWhile(_ != ':')
        if (file.endsWith("Warehouse.scala")) "warehouse"
        else if (frame.startsWith("graft.etl.CorrelationJob") || frame.startsWith("graft.stats."))
          "stats"
        else if (frame.startsWith("graft.etl.")) "etl"
        else if (frame.startsWith("graft.ops.") || frame.startsWith("graft.functions.")) "ops"
        else if (frame.startsWith("graft.streaming.")) "streaming"
        else "other"
      }

  /** Length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Bytes of files the plan's file scans read under the given roots. */
  def scannedWarehouseBytes(plan: org.apache.spark.sql.execution.SparkPlan,
      roots: Seq[String]): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec =>
        val paths = s.relation.location.rootPaths.map(_.toString)
        val under = paths.exists(pp => roots.exists(r => pp.contains(r)))
        if (under) s.metrics.get("filesSize").map(_.value).getOrElse(0L) else 0L
      case other =>
        other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }
}

/** Codegen compile count and time, from the code generator's own log
  * line ("Code generated in X ms"), captured by an appender installed
  * on that one logger.
  */
final class CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  @volatile private var n = 0L
  @volatile private var ms = 0.0

  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case pattern(t) => CodegenLog.this.synchronized { n += 1; ms += t.toDouble }
      case _ =>
    }
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(loggerName)
    ctx.updateLoggers()
  }

  def reset(): Unit = synchronized { n = 0; ms = 0.0 }
  def read(): (Long, Double) = synchronized((n, ms))
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
