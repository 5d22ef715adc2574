package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * Studies are DATA parallelism (SURVEY.md §2.10 X1), not a driver
  * loop: every study's rows flow through ONE set of batched plans —
  * one upsert per dimension, one whitelist-filtered melt union, one
  * anti-join dedup, one fact append. The reference loads studies one
  * at a time in a thread pool (pipeline.py:340-356); here the job
  * count does not grow with the study count. Failure isolation per
  * study (the reference's swallow-log-continue, pipeline.py:351-356)
  * happens where its format errors surface: driver-side discovery and
  * header validation exclude a bad study before anything publishes.
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

  private case class Prep(acc: String, samples: DataFrame, melted: DataFrame)

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

    val attempts: Seq[Either[StudyResult, Prep]] = dirs.map { dir =>
      try {
        val files = StudyDiscovery.discoverStudyFiles(dir)
        val acc = files.studyAccession
        if (done.contains(acc)) {
          log.info(s"Skipping completed study $acc (resume)")
          Left(StudyResult(acc, 0, 0, skipped = true))
        } else {
          val raw = Metadata.load(spark, files.metadataFile.toString, config.fieldMappings)
          if (raw.limit(1).count() == 0)
            throw new StudyProcessingError(s"No valid samples found in metadata ${files.metadataFile}")
          val mismatches = Metadata.mismatchCount(raw, acc)
          if (mismatches > 0)
            log.warn(s"$mismatches samples referenced differing study accession (expected $acc)")
          val samples = Metadata.overrideStudyAccession(raw, acc)
          val expected = samples.select("gsm_accession").distinct()
            .collect().map(_.getString(0)).toSeq.sorted
          val melted = ExpressionMatrix.load(spark, files.expressionFile.toString, expected)
            .withColumn("study_accession", lit(acc))
          Right(Prep(acc, samples, melted))
        }
      } catch {
        case e: Exception if !interrupted(e) =>
          log.error(s"Failed to prepare study ${dir.getFileName}: ${e.getMessage}")
          Left(StudyResult(dir.getFileName.toString, 0, 0, Some(e.getMessage)))
      }
    }
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
    val genes = GeneFilter.load(spark, config.processing.geneFilterFile.toString)
    val allSamples = preps.map(_.samples).reduce(_ unionByName _).cache()

    // ---- dims: one upsert each across every study -----------------------
    w.writeDim("dim_study", Dims.upsertDim(w.read("dim_study"),
      allSamples.select(col("study_accession").as("gse_accession")),
      "study_key", "gse_accession"))
    val studyDim = w.read("dim_study")
      .select(col("gse_accession").as("study_accession"), col("study_key"))
    w.writeDim("dim_platform", Dims.upsertDim(w.read("dim_platform"),
      allSamples.select(col("platform_accession")), "platform_key", "platform_accession"))
    w.writeDim("dim_illness", Dims.upsertDim(w.read("dim_illness"),
      allSamples.select(col("illness_label")), "illness_key", "illness_label"))

    // __ord pins the reference's "first row in file wins" duplicate-GSM
    // resolution (Dims.upsertSampleDim). It comes from Metadata.load:
    // per-file byte offsets, so the order is FILE order regardless of
    // how the scan packs splits — safe for multi-file metadata too.
    // (Cross-study collisions are harmless: __ord only orders rows
    // within one (gsm, study) group.)
    val incoming = Dims.resolveFk(
      Dims.resolveFk(
        allSamples.join(broadcast(studyDim), Seq("study_accession")),
        w.read("dim_platform"), "platform_accession", "platform_accession", "platform_key"),
      w.read("dim_illness"), "illness_label", "illness_label", "illness_key")
      .select("gsm_accession", "study_key", "platform_key", "illness_key", "age", "sex", "__ord")
    w.writeDim("dim_sample", Dims.upsertSampleDim(w.read("dim_sample"), incoming))
    // D4: metadata phase committed for every prepared study
    StudyState.upsert(w, spark, preps.map(_.acc), metadataLoaded = true,
      factsLoaded = false)

    // ---- facts: one melt union, one key join, one dedup, one append -----
    val allMelted = preps.map(_.melted).reduce(_ unionByName _)
    val filtered = GeneFilter.filterGenes(allMelted, genes, "gene_id")
    w.writeDim("dim_gene", Dims.upsertGeneDim(w.read("dim_gene"),
      filtered.select(col("gene_id").as("ensembl_id"))))

    // sample dim joins on (gsm, study) WITHOUT an explicit broadcast:
    // across many studies it is not small; AQE picks the strategy.
    val sampleDim = w.read("dim_sample")
      .select(col("gsm_accession").as("sample_accession"), col("study_key"), col("sample_key"))
    val geneDim = w.read("dim_gene").select(col("ensembl_id").as("gene_id"), col("gene_key"))
    val keyed = filtered
      .join(broadcast(studyDim), Seq("study_accession"))
      .join(sampleDim, Seq("sample_accession", "study_key"))
      .join(broadcast(geneDim), Seq("gene_id"))
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
    val keyByAcc = studyDim.where(col("study_accession").isin(preps.map(_.acc): _*)).collect()
      .map(r => r.getAs[String]("study_accession") -> r.getAs[Long]("study_key")).toMap
    val existing = w.read("fact_expression")
      .where(col("study_key").isin(keyByAcc.values.toSeq: _*))
      .select("sample_key", "gene_key")
    val fresh = keyed.join(existing, Seq("sample_key", "gene_key"), "left_anti").cache()

    val factsByStudy = fresh.groupBy("study_key").count().collect()
      .map(r => r.getAs[Number]("study_key").longValue() -> r.getAs[Long]("count")).toMap
    w.appendFacts("fact_expression", fresh)
    fresh.unpersist()
    // D4 terminal state: the batch analog of the reference's
    // clear_state-on-success (pipeline.py:299-301) — see StudyState
    StudyState.upsert(w, spark, preps.map(_.acc), metadataLoaded = true,
      factsLoaded = true)

    // per-study sample counts and A1 completion (metadata_processing.py:26-38)
    // in the one aggregate the result needs anyway
    val sampleStats = allSamples.groupBy("study_accession").agg(
        count(lit(1)).as("total"),
        sum(when(col("age") =!= Schema.UnknownValue, 1L).otherwise(0L)).as("complete_age"),
        sum(when(col("sex") =!= Schema.UnknownValue, 1L).otherwise(0L)).as("complete_sex"))
      .collect()
      .map(r => r.getAs[String]("study_accession") ->
        (r.getAs[Long]("total"), r.getAs[Long]("complete_age"), r.getAs[Long]("complete_sex")))
      .toMap
    allSamples.unpersist()
    preps.map { p =>
      val (samples, age, sex) = sampleStats.getOrElse(p.acc, (0L, 0L, 0L))
      val facts = keyByAcc.get(p.acc).flatMap(factsByStudy.get).getOrElse(0L)
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
  }
}
