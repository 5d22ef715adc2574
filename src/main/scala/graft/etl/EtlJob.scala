package graft.etl

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, SparkSession, classic}

/** The full ETL pipeline (reference: scripts/run_etl.py →
  * src/etl_for_all_studies/pipeline.py:255-356; SURVEY.md §3.1).
  *
  * Per study: discover files → normalize metadata (X6 accession
  * override) → maintain dims (D1-D3) → melt + whitelist-filter the
  * expression matrix (R1/F1-F4) → key the facts through broadcast dim
  * joins (J3/J4) → anti-join dedup against the batch's existing facts
  * (J7 over an F7-pruned read, the idempotence contract
  * REQ-005/REQ-007) → append.
  *
  * Studies are DATA parallelism (SURVEY.md §2.10 X1) from the dims on:
  * every study's rows flow through ONE set of batched plans — one
  * lookup and one write per dimension, one whitelist-filtered melt
  * union, one anti-join dedup, one fact append. Before that, each
  * study's prep (discovery, one collect of its normalized metadata
  * rows, the driver-side expression header read) runs one Spark action
  * per study; the preps run at once on a driver pool, the reference's
  * per-study thread pool (pipeline.py:340-356). The gene whitelist is
  * read on the driver, and the whitelist-filtered melt union is cached
  * for the publish phase: the dim lookup and the fact join both read
  * it, so the expression matrices are parsed once.
  *
  * The publish order:
  *  1. every dim key of the batch is assigned on the driver from one
  *     lookup query ([[Dims.keyBatch]]), and the driver merges the
  *     batch's `dim_sample` rows ([[Dims.mergeSamples]]);
  *  2. a study an earlier run finished (a `--no-resume` re-load) has
  *     its terminal [[StudyState]] row downgraded to in-flight; no
  *     other study gets a state row yet;
  *  3. the five dim writes run at once, each writing only the batch's
  *     own rows: the vocabulary dims append their new rows (nothing
  *     when there are none), `dim_sample` replaces the batch's study
  *     partitions with the merged rows, a local relation;
  *  4. the fact append. The fact join keys through the batch's local
  *     key maps, not through reads of the dims; the J7 anti-join reads
  *     the batch's study partitions, nothing for a batch of new
  *     studies. The append is not cached or counted beforehand: the
  *     per-study fact counts are an `Observation` on the append itself;
  *  5. the terminal StudyState row of every study of the batch.
  *
  * Every pool is bounded by min(tasks, driver cores) and lives for one
  * call ([[EtlJob.inParallel]]). Failure isolation per study (the
  * reference's swallow-log-continue, pipeline.py:351-356) happens where
  * its format errors surface: prep excludes a bad study before
  * anything publishes.
  */
class EtlJob(spark: SparkSession, config: AppConfig, warehouseDir: String) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val wh = Warehouse(spark, warehouseDir, config.database)

  case class StudyResult(accession: String, samples: Long, facts: Long,
      error: Option[String] = None, skipped: Boolean = false)

  /** Load every study directory under the configured input root. With
    * `resume = true`, studies whose [[StudyState]] row is terminal
    * (facts_loaded) are skipped without touching their data — the D4
    * resume surface. The default processes everything and relies on
    * the J7 anti-join for idempotence, the reference's own behavior
    * for studies it has already finished (their cleared state means a
    * plain re-run re-scans them too).
    */
  def run(resume: Boolean = false): Seq[StudyResult] =
    processUnioned(StudyDiscovery.discoverStudyDirs(config.processing.inputDirectory), resume)

  /** A prepared study: its normalized metadata rows (X6-overridden to
    * `acc`), its melted expression rows and its distinct GSM
    * accessions in Spark's string order.
    */
  private case class Prep(acc: String, samples: Seq[Dims.SampleMeta], melted: DataFrame,
      gsms: Seq[String])

  /** The load over an EXPLICIT study-directory list — the engine of
    * [[run]] (which discovers from the config root) and of
    * [[graft.streaming.StreamingEtl]] (which receives newly arrived
    * directories per micro-batch).
    *
    * A study failing discovery or header validation is reported and
    * excluded; the distributed execution then runs over the good
    * studies only. A failure inside the publish phase fails every
    * prepared study of the batch: the error is reported per study,
    * never thrown.
    */
  def processUnioned(dirs: Seq[java.nio.file.Path], resume: Boolean = false): Seq[StudyResult] = {
    val finished = StudyState.completed(wh)
    val done = if (resume) finished else Set.empty[String]
    val attempts = EtlJob.inParallel(spark, dirs.map(dir => () => prepare(dir, done)))
    val failures = attempts.collect { case Left(f) => f }
    val preps = attempts.collect { case Right(p) => p }
    if (preps.isEmpty) return failures

    // On the snapshot backend the whole multi-table load (5 dim writes
    // + state + the fact append) publishes as ONE manifest commit: a
    // crash anywhere in the publish phase leaves readers on the prior
    // snapshot with no trace of this load — the reference's per-study
    // transaction (pipeline.py:271-301) extended to multi-table reader
    // isolation. Other backends publish table-by-table (each op
    // individually crash-safe; X2 idempotence covers re-runs).
    val ok =
      try wh match {
        case sw: SnapshotWarehouse => sw.transact(txn => publishUnioned(txn, preps, finished))
        case other => publishUnioned(other, preps, finished)
      } catch {
        case e: Exception if !interrupted(e) =>
          log.error(s"Failed to publish studies ${preps.map(_.acc).mkString(", ")}: ${e.getMessage}")
          preps.map(p => StudyResult(p.acc, 0, 0, Some(e.getMessage)))
      }
    (ok ++ failures).sortBy(_.accession)
  }

  /** One study's prep, a task of [[processUnioned]]'s pool: discovery,
    * then ONE collect of the normalized metadata rows, which serve the
    * empty check, the X6 mismatch warning, the A1 completion counts,
    * the expected sample columns, the study's platform and illness
    * labels and the driver's `dim_sample` merge, then the expression
    * header read on the driver. A failure is this study's result,
    * never the batch's.
    */
  private def prepare(dir: java.nio.file.Path, done: Set[String]): Either[StudyResult, Prep] =
    try {
      val files = StudyDiscovery.discoverStudyFiles(dir)
      val acc = files.studyAccession
      if (done.contains(acc)) {
        log.info(s"Skipping completed study $acc (resume)")
        Left(StudyResult(acc, 0, 0, skipped = true))
      } else {
        val rows = Metadata.load(spark, files.metadataFile.toString, config.fieldMappings)
          .select("gsm_accession", "study_accession", "platform_accession", "illness_label",
            "age", "sex", "__ord")
          .collect().toSeq.map(r => Dims.SampleMeta(r.getString(0), r.getString(1), r.getString(2),
            r.getString(3), r.getString(4), r.getString(5), r.getLong(6)))
        if (rows.isEmpty)
          throw new StudyProcessingError(s"No valid samples found in metadata ${files.metadataFile}")
        val mismatches = rows.count(m => m.study != acc && m.study != Schema.UnknownValue)
        if (mismatches > 0)
          log.warn(s"$mismatches samples referenced differing study accession (expected $acc)")
        val gsms = rows.map(_.gsm).distinct.sorted(Dims.SparkStringOrder)
        val melted = ExpressionMatrix.load(spark, files.expressionFile.toString, gsms)
          .withColumn("study_accession", lit(acc))
        // X6: every sample belongs to the directory's study
        // (pipeline.py:131-139)
        Right(Prep(acc, rows.map(_.copy(study = acc)), melted, gsms))
      }
    } catch {
      case e: Exception if !interrupted(e) =>
        log.error(s"Failed to prepare study ${dir.getFileName}: ${e.getMessage}")
        Left(StudyResult(dir.getFileName.toString, 0, 0, Some(e.getMessage)))
    }

  /** An interrupt is the caller stopping the load (a streaming query's
    * `stop()`), not a failed study: it must propagate, so the stopped
    * micro-batch stays uncommitted instead of reporting its studies
    * as failed.
    */
  private def interrupted(e: Throwable): Boolean =
    Thread.currentThread().isInterrupted ||
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case _: InterruptedException | _: java.io.InterruptedIOException |
             _: java.nio.channels.ClosedByInterruptException => true
        case _ => false
      }

  /** The publish phase of [[processUnioned]] — all warehouse reads and
    * writes go through `w`, which is either the backend itself or a
    * [[SnapshotTxn]] (read-your-writes view that defers visibility to
    * one atomic commit). `finished` holds the accessions whose state
    * row was terminal when the load started.
    */
  private def publishUnioned(w: Warehouse, preps: Seq[Prep],
      finished: Set[String]): Seq[StudyResult] = {
    // the whitelist-filtered melt union is read twice, by the dim lookup
    // and by the fact join below: cached, the expression matrices are
    // parsed once per load
    val whitelist = GeneFilter.ids(spark, config.processing.geneFilterFile.toString)
    val filtered = {
      import spark.implicits._
      GeneFilter.filterGenes(preps.map(_.melted).reduce(_ unionByName _),
        whitelist.toDF("ensembl_id"), "gene_id").cache()
    }
    try {
      // ---- dims: every key assigned on the driver from one lookup, then
      // each dim gets only its new rows, the five writes at once ---------
      val keys = Dims.keyBatch(w,
        preps.groupMapReduce(_.acc)(_.gsms)((a, b) => (a ++ b).distinct),
        preps.flatMap(_.samples.map(_.platform)), preps.flatMap(_.samples.map(_.illness)),
        filtered.select(col("gene_id")), whitelist)
      def keyRows(keyCol: String, naturalCol: String, keyed: Iterable[(String, Long)]) =
        Dims.local(spark, keyCol -> LongType, naturalCol -> StringType)(keyed.map(_.swap))
      val studyKeys = keyRows("study_key", "study_accession", keys.study.all)
      val batchStudies = keys.study.all.values.toSeq

      // D3 on the driver: the batch's metadata rows merged into its
      // re-delivered studies' rows. __ord pins the reference's "first row
      // in file wins" duplicate-GSM resolution; it comes from
      // Metadata.load: per-file byte offsets, so the order is FILE order
      // regardless of how the scan packs splits.
      val samples = Dims.mergeSamples(preps.flatMap(_.samples), keys)
      // D4: a finished study is marked in-flight before the load writes
      // any of its rows, so a cut load cannot leave its terminal row over
      // a partial append; see StudyState
      StudyState.upsert(w, spark, preps.map(_.acc).filter(finished), metadataLoaded = true,
        factsLoaded = false)
      def appendNew(table: String, keyCol: String, naturalCol: String, k: Dims.Keyed): () => Unit =
        () => if (k.fresh.nonEmpty) w.append(table, keyRows(keyCol, naturalCol, k.fresh))
      EtlJob.inParallel(spark, Seq(
        appendNew("dim_study", "study_key", "gse_accession", keys.study),
        appendNew("dim_platform", "platform_key", "platform_accession", keys.platform),
        appendNew("dim_illness", "illness_key", "illness_label", keys.illness),
        appendNew("dim_gene", "gene_key", "ensembl_id", keys.gene),
        () => w.replaceStudyPartitions("dim_sample", Dims.sampleRelation(spark, samples),
          batchStudies)))

      // ---- facts: the cached filtered melt union keyed through the batch's
      // local key maps, one dedup, one append ----------------------------------
      // the sample map is the batch's GSMs, not a bounded vocabulary: the
      // planner broadcasts it by its size
      val sampleKeys = Dims.local(spark,
        "sample_accession" -> StringType, "study_key" -> LongType, "sample_key" -> LongType)(
        keys.samples.map { case ((gsm, study), k) => (gsm, study, k) })
      val keyed = filtered
        .join(broadcast(studyKeys), Seq("study_accession"))
        .join(sampleKeys, Seq("sample_accession", "study_key"))
        .join(broadcast(keyRows("gene_key", "gene_id", keys.gene.all)), Seq("gene_id"))
        .select("sample_key", "gene_key", "study_key", "expression_value")
        // intra-batch dedup: the reference's per-row seen-set also drops
        // duplicates WITHIN one file (repeated gene row / repeated GSM
        // column); min() is the deterministic stand-in for its
        // first-in-file-order pick
        .groupBy("sample_key", "gene_key", "study_key")
        .agg(min(col("expression_value")).as("expression_value"))
      // J7 against the batch's own studies only: a sample key belongs to
      // one study, so facts outside the batch can never match. The read
      // lists only the studies' partitions (F7); for a batch of new
      // studies it is an empty local relation and the anti-join folds away
      val existing = w.readStudies("fact_expression", batchStudies)
        .select("sample_key", "gene_key")
      val fresh = keyed.join(existing, Seq("sample_key", "gene_key"), "left_anti")
      // per-study fact counts ride the append: ONE observed aggregate,
      // whose per-row cost does not grow with the batch's study count.
      // Observation.get blocks until the observed write has finished.
      val appended = Observation()
      w.append("fact_expression",
        fresh.observe(appended, EtlJob.countPerKey(col("study_key")).as("facts")))
      val factsByStudy = appended.get("facts").asInstanceOf[scala.collection.Map[Long, Long]]
      // D4 terminal state: the batch analog of the reference's
      // clear_state-on-success (pipeline.py:299-301) — see StudyState
      StudyState.upsert(w, spark, preps.map(_.acc), metadataLoaded = true,
        factsLoaded = true)

      // per-study sample counts and A1 completion (metadata_processing.py:26-38)
      // from the prep rows, summed per accession like the dims
      val sampleStats = preps.groupMapReduce(_.acc) { p =>
        def known(v: Dims.SampleMeta => String) = p.samples.count(v(_) != Schema.UnknownValue).toLong
        (p.samples.size.toLong, known(_.age), known(_.sex))
      } { case ((n1, a1, s1), (n2, a2, s2)) => (n1 + n2, a1 + a2, s1 + s2) }
      preps.map { p =>
        val (samples, age, sex) = sampleStats(p.acc)
        val facts = keys.study.all.get(p.acc).flatMap(factsByStudy.get).getOrElse(0L)
        if (config.logging.logDataQuality) {
          val total = samples.max(1L)
          log.info(f"Study ${p.acc}: $samples samples, " +
            f"age completion ${100.0 * age / total}%.2f%%, " +
            f"sex completion ${100.0 * sex / total}%.2f%%")
        }
        if (config.logging.logRecordCounts)
          log.info(s"Study ${p.acc}: $facts expression facts written")
        StudyResult(p.acc, samples, facts)
      }
    } finally filtered.unpersist()
  }
}

object EtlJob {

  /** Row count per key, as one typed aggregate (`Map[key, count]`). */
  private object PerKeyCount extends Aggregator[Long, Map[Long, Long], Map[Long, Long]] {
    def zero: Map[Long, Long] = Map.empty
    def reduce(b: Map[Long, Long], k: Long): Map[Long, Long] = b.updated(k, b.getOrElse(k, 0L) + 1L)
    def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
      b.foldLeft(a) { case (acc, (k, n)) => acc.updated(k, acc.getOrElse(k, 0L) + n) }
    def finish(b: Map[Long, Long]): Map[Long, Long] = b
    def bufferEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder[Map[Long, Long]]()
    def outputEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder[Map[Long, Long]]()
  }

  private val countPerKey = udaf(PerKeyCount, Encoders.scalaLong)

  /** Runs a load's independent branches at once and returns their
    * results in input order. The pool is created per call, bounded by
    * min(tasks, driver cores), and shut down before returning. Each
    * task runs through `SQLExecution.withThreadLocalCaptured`, so it
    * sees the caller's active session and local properties — among
    * them a streaming query's job group, which its `stop()` cancels.
    *
    * Every task settles before a failure is rethrown (the first, in
    * input order). If the caller is interrupted while it waits, the
    * pool threads are interrupted, the tasks' Spark jobs cancelled
    * through a per-call job tag, and the interrupt rethrown: a pool
    * thread's interrupt flag is not the caller's, so a task alone
    * cannot tell a stopped load from a failed study.
    */
  private[etl] def inParallel[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] = {
    if (tasks.isEmpty) return Seq.empty
    val pool = Executors.newFixedThreadPool(
      math.min(tasks.size, Runtime.getRuntime.availableProcessors), (r: Runnable) => {
        val t = new Thread(r, "etl-load-branch")
        t.setDaemon(true)
        t
      })
    val sc = spark.sparkContext
    val tag = s"etl-load-${java.util.UUID.randomUUID()}"
    try {
      val futures = tasks.map(task => SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[classic.SparkSession], pool) { sc.addJobTag(tag); task() })
      // scala.util.Try lets an InterruptedException through to the catch
      val settled = futures.map(f => scala.util.Try(f.get()))
      if (Thread.interrupted()) throw new InterruptedException()
      settled.map {
        case scala.util.Failure(e: ExecutionException) if e.getCause != null => throw e.getCause
        case other => other.get
      }
    } catch {
      case e: InterruptedException =>
        pool.shutdownNow()
        sc.cancelJobsWithTag(tag)
        throw e
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
