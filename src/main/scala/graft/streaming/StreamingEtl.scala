package graft.streaming

import graft.etl.{AppConfig, EtlJob}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental study ingest — the streaming twin of [[graft.etl.EtlJob]]
  * (SURVEY.md §2.9's forward extension: studies ARRIVE over time and
  * the warehouse keeps up; the reference is batch-only by REQ-014).
  *
  * Arrival protocol: a MANIFEST directory. Each file dropped there
  * lists newly arrived study directory paths, one per line — the
  * standard notification pattern for object-store ingest (a path
  * listing is atomic to publish; watching raw study files would race
  * half-written TSV pairs). The streaming text source's checkpointed
  * file log gives exactly-once manifest processing across restarts.
  *
  * Each micro-batch routes its studies through the SAME batched plans
  * as `EtlJob.run` ([[graft.etl.EtlJob.processUnioned]]): one dim
  * lookup that keys the batch on the driver, one write per dimension
  * holding only the batch's new rows (appends, and a replace of the
  * batch's `dim_sample` partitions), one whitelist-filtered melt union,
  * one anti-join fact dedup, one append, StudyState committed per
  * phase. A study that
  * fails — in preparation or in the publish phase — is reported in the
  * batch's results; with `failOpen = false` that fails the micro-batch,
  * so its manifests are retried (see [[ingestAvailable]]).
  * So the warehouse after N arrival batches is value-identical to one
  * batch load of the same studies (StreamingEtlSpec pins it), and a
  * REPLAYED batch — crash between the foreachBatch side-effect and the
  * checkpoint commit — lands zero new facts (X2 idempotence: J7
  * anti-join + resume-skip of terminal studies).
  *
  * 100 TB: the manifest stream is driver-scale (paths, not data); all
  * heavy lifting stays in the distributed batch plans, whose writes
  * scale with the studies IN the batch, not the warehouse size: dims
  * grow by their new rows, and the J7 anti-join reads only the batch's
  * `study_key` partitions of the fact table (F7). The dim lookup still
  * scans each dim for its max key. Run with [[ingestAvailable]] on a schedule or a
  * long-lived `Trigger.ProcessingTime` query — same code path.
  */
class StreamingEtl(spark: SparkSession, config: AppConfig, warehouseDir: String) {
  private val job = new EtlJob(spark, config, warehouseDir)

  /** Thrown inside foreachBatch to FAIL the micro-batch when a study
    * errored: an uncommitted batch keeps its manifests unprocessed, so
    * the next drain retries them (succeeded studies replay as resume
    * skips / zero-fact anti-joins).
    */
  private final class StudyBatchFailed(val failed: Seq[String])
    extends RuntimeException(s"studies failed in this batch: ${failed.mkString(", ")}")

  /** ONE query builder behind both triggers — the "same code path"
    * claim in the class scaladoc is structural, not aspirational:
    * [[ingestAvailable]] (drain-and-stop) and [[ingestProcessingTime]]
    * (long-lived) differ only in the Trigger they pass here.
    */
  private def startQuery(manifestDir: String, checkpointDir: String,
      trigger: Trigger, resume: Boolean, failOpen: Boolean,
      sink: Seq[EtlJob#StudyResult] => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .format("text")
      .load(manifestDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the manifest batch is driver-scale: a handful of paths
        val dirs = batch.collect().map(_.getString(0).trim)
          .filter(_.nonEmpty).distinct.sorted
          .map(java.nio.file.Paths.get(_)).toSeq
        if (dirs.nonEmpty) {
          val results = job.processUnioned(dirs, resume)
          sink(results)
          val failed = results.collect { case r if r.error.isDefined => r.accession }
          if (failed.nonEmpty && !failOpen) throw new StudyBatchFailed(failed)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Drain every unprocessed manifest entry (Trigger.AvailableNow) and
    * stop; returns the per-study results of THIS drain. `resume = true`
    * (the default, matching the CLI) skips studies already terminal in
    * StudyState — re-listed studies are reported `skipped`.
    *
    * Failure semantics: with `failOpen = false` (default) a per-study
    * failure FAILS the micro-batch, so its manifests stay unprocessed
    * and the next drain retries them — a transient error (FS hiccup)
    * self-heals, at the cost that a permanently broken study blocks
    * its manifest until fixed or re-drained with `failOpen = true`,
    * which commits the batch and reports the failure once (batch-mode
    * behavior: the study is only retried when re-listed).
    */
  def ingestAvailable(manifestDir: String, checkpointDir: String,
      resume: Boolean = true, failOpen: Boolean = false): Seq[EtlJob#StudyResult] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[EtlJob#StudyResult]
    val query = startQuery(manifestDir, checkpointDir, Trigger.AvailableNow(),
      resume, failOpen, rs => buf.synchronized { buf ++= rs; () })
    try query.awaitTermination()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if causeChain(e).exists(_.isInstanceOf[StudyBatchFailed]) =>
        // our own batch-fail signal: the per-study errors are already
        // in the results; the manifest stays uncommitted for retry
    }
    buf.synchronized(buf.toSeq)
  }

  /** Long-lived ingest: the SAME query as [[ingestAvailable]] under a
    * `Trigger.ProcessingTime` — manifests dropped while the query runs
    * are picked up on the next tick, with the identical micro-batch
    * body (batched union plans, StudyState). Returns the running
    * [[StreamingQuery]]; the caller owns its lifecycle
    * (`processAllAvailable` to block until drained, `stop()` to end).
    * Per-batch results stream to `onResults`.
    *
    * Failure semantics DIFFER from the drain form because a long-lived
    * query has no "next drain": with `failOpen = false` a per-study
    * failure FAIL-STOPS the query (it terminates with the
    * StudyBatchFailed cause; later manifest drops are not consumed
    * until a restart, which replays the uncommitted batch). That is
    * the right mode when an operator supervises restarts. The default
    * here is therefore `failOpen = true` — unattended batch-mode
    * semantics: the batch commits, the failure is reported once via
    * `onResults`, the query keeps ticking, and the study is retried
    * when re-listed (exactly the CLI's per-study isolation, X3).
    *
    * A crash between the warehouse side-effect and the checkpoint
    * commit replays the batch on restart; the replay lands ZERO new
    * facts (resume-skip of terminal studies + the J7 anti-join) —
    * StreamingEtlSpec pins this by restoring a pre-batch checkpoint.
    */
  def ingestProcessingTime(manifestDir: String, checkpointDir: String,
      interval: String = "1 second", resume: Boolean = true,
      failOpen: Boolean = true)(
      onResults: Seq[EtlJob#StudyResult] => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    startQuery(manifestDir, checkpointDir, Trigger.ProcessingTime(interval),
      resume, failOpen, onResults)

  private def causeChain(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
}
