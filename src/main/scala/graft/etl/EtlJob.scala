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
  * study's prep (discovery, one metadata aggregate, the driver-side
  * expression header read) runs one Spark action per study; the preps
  * run at once on a driver pool, the reference's per-study thread pool
  * (pipeline.py:340-356). The gene whitelist is read on the driver,
  * and the whitelist-filtered melt union is cached for the publish
  * phase: the dim lookup and the fact join both read it, so the
  * expression matrices are parsed once.
  *
  * Every dim key of the batch is assigned on the driver from one
  * lookup query ([[Dims.keyBatch]]). The five dim writes then run at
  * once, each writing only the batch's own rows: the vocabulary dims
  * append their new rows (nothing when there are none), `dim_sample`
  * replaces the batch's study partitions. StudyState and the fact
  * append follow in order; the fact join keys through the batch's
  * local key maps, not through reads of the dims. The append is not
  * cached or counted beforehand: the per-study fact counts are an
  * `Observation` on the append itself. Every pool is bounded by
  * min(tasks, driver cores) and lives for one call
  * ([[EtlJob.inParallel]]). Failure isolation per study (the
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

  /** A prepared study: its normalized samples, its melted expression
    * rows, the A1 sample / age / sex completion counts, and its
    * distinct GSM accessions, platform and illness labels (the naturals
    * [[Dims.keyBatch]] keys).
    */
  private case class Prep(acc: String, samples: DataFrame, melted: DataFrame,
      total: Long, completeAge: Long, completeSex: Long,
      gsms: Seq[String], platforms: Seq[String], illnesses: Seq[String])

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
    val done = if (resume) StudyState.completed(wh) else Set.empty[String]
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
        case sw: SnapshotWarehouse => sw.transact(txn => publishUnioned(txn, preps))
        case other => publishUnioned(other, preps)
      } catch {
        case e: Exception if !interrupted(e) =>
          log.error(s"Failed to publish studies ${preps.map(_.acc).mkString(", ")}: ${e.getMessage}")
          preps.map(p => StudyResult(p.acc, 0, 0, Some(e.getMessage)))
      }
    (ok ++ failures).sortBy(_.accession)
  }

  /** One study's prep, a task of [[processUnioned]]'s pool: discovery,
    * then ONE metadata aggregate that serves the empty check, the X6
    * mismatch warning, the A1 completion counts, the expected sample
    * columns and the study's platform and illness labels, then the
    * expression header read on the driver. A failure
    * is this study's result, never the batch's.
    */
  private def prepare(dir: java.nio.file.Path, done: Set[String]): Either[StudyResult, Prep] =
    try {
      val files = StudyDiscovery.discoverStudyFiles(dir)
      val acc = files.studyAccession
      if (done.contains(acc)) {
        log.info(s"Skipping completed study $acc (resume)")
        Left(StudyResult(acc, 0, 0, skipped = true))
      } else {
        val raw = Metadata.load(spark, files.metadataFile.toString, config.fieldMappings)
        def countWhere(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
        val stats = raw.agg(
          count(lit(1)),
          countWhere(col("study_accession") =!= acc && col("study_accession") =!= Schema.UnknownValue),
          countWhere(col("age") =!= Schema.UnknownValue),
          countWhere(col("sex") =!= Schema.UnknownValue),
          array_sort(collect_set(col("gsm_accession"))),
          collect_set(col("platform_accession")),
          collect_set(col("illness_label"))).head()
        if (stats.getLong(0) == 0)
          throw new StudyProcessingError(s"No valid samples found in metadata ${files.metadataFile}")
        val mismatches = stats.getLong(1)
        if (mismatches > 0)
          log.warn(s"$mismatches samples referenced differing study accession (expected $acc)")
        val melted = ExpressionMatrix.load(spark, files.expressionFile.toString, stats.getSeq[String](4))
          .withColumn("study_accession", lit(acc))
        Right(Prep(acc, Metadata.overrideStudyAccession(raw, acc), melted,
          stats.getLong(0), stats.getLong(2), stats.getLong(3),
          stats.getSeq[String](4), stats.getSeq[String](5), stats.getSeq[String](6)))
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
    * one atomic commit).
    */
  private def publishUnioned(w: Warehouse, preps: Seq[Prep]): Seq[StudyResult] = {
    val allSamples = preps.map(_.samples).reduce(_ unionByName _).cache()
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
        preps.flatMap(_.platforms), preps.flatMap(_.illnesses),
        filtered.select(col("gene_id")), whitelist)
      def keyRows(keyCol: String, naturalCol: String, keyed: Iterable[(String, Long)]) =
        Dims.local(spark, keyCol -> LongType, naturalCol -> StringType)(keyed.map(_.swap))
      val studyKeys = keyRows("study_key", "study_accession", keys.study.all)
      val batchStudies = keys.study.all.values.toSeq

      // __ord pins the reference's "first row in file wins" duplicate-GSM
      // resolution (Dims.upsertSampleDim). It comes from Metadata.load:
      // per-file byte offsets, so the order is FILE order regardless of
      // how the scan packs splits — safe for multi-file metadata too.
      // (Cross-study collisions are harmless: __ord only orders rows
      // within one (gsm, study) group.)
      val incoming = Dims.resolveFk(
        Dims.resolveFk(
          allSamples.join(broadcast(studyKeys), Seq("study_accession")),
          keyRows("platform_key", "platform_accession", keys.platform.all),
          "platform_accession", "platform_accession", "platform_key"),
        keyRows("illness_key", "illness_label", keys.illness.all),
        "illness_label", "illness_label", "illness_key")
        .select("gsm_accession", "study_key", "platform_key", "illness_key", "age", "sex", "__ord")
      def appendNew(table: String, keyCol: String, naturalCol: String, k: Dims.Keyed): () => Unit =
        () => if (k.fresh.nonEmpty) w.append(table, keyRows(keyCol, naturalCol, k.fresh))
      EtlJob.inParallel(spark, Seq(
        appendNew("dim_study", "study_key", "gse_accession", keys.study),
        appendNew("dim_platform", "platform_key", "platform_accession", keys.platform),
        appendNew("dim_illness", "illness_key", "illness_label", keys.illness),
        appendNew("dim_gene", "gene_key", "ensembl_id", keys.gene),
        () => w.replaceStudyPartitions("dim_sample",
          Dims.upsertSampleDim(w.readStudies("dim_sample", batchStudies), incoming,
            keys.freshSamples),
          batchStudies)))
      allSamples.unpersist()
      // D4: metadata phase committed for every prepared study
      StudyState.upsert(w, spark, preps.map(_.acc), metadataLoaded = true,
        factsLoaded = false)

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
      // one study, so facts outside the batch can never match, and the
      // study_key predicate prunes their partitions at the scan (F7)
      val existing = w.read("fact_expression")
        .where(Warehouse.inSet("study_key", batchStudies))
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
      // from the prep aggregates, summed per accession like the dims
      val sampleStats = preps.groupMapReduce(_.acc)(p => (p.total, p.completeAge, p.completeSex)) {
        case ((n1, a1, s1), (n2, a2, s2)) => (n1 + n2, a1 + a2, s1 + s2)
      }
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
