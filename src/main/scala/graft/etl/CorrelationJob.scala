package graft.etl

import graft.stats.{BenjaminiHochberg, PValues, Spearman}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}

/** Per-study all-pairs Spearman + BH analytics job (reference:
  * scripts/run_correlation_job.py → src/etl_for_all_studies/
  * correlation_job.py:49-238 + correlation.py:95-162; SURVEY.md §3.2).
  *
  * One distributed plan covers ALL target studies at once — study_key
  * is just another grouping column (the reference loops studies
  * sequentially; SURVEY.md §2.10 X1 maps that to data parallelism):
  *
  *   fact ⋈ dim_sample (J1, broadcast) → pair self-join + shared-sample
  *   intersection (J5/J6) → per-pair Spearman (C1/C2/A4; [[Spearman]]'s
  *   dense plan for complete studies, exact plan otherwise) → p-values
  *   (C3, erf approx) → per-study BH (C5) → assembly with the
  *   reference's persist-time NaN policy (C4: null p stored as 1.0, q
  *   null when p invalid) → delete-then-append of the targets'
  *   partitions (S7 replace).
  *
  * Each piece of work runs once. The per-study shape aggregate that
  * picks each study's Spearman path also resolves the targets (the
  * studies with facts); the pair plan then runs exactly once, inside
  * its write, and the reported pair count is an `Observation` on that
  * write — no cache and no separate count pass. BH is O(m log m) per
  * study ([[BenjaminiHochberg]]).
  *
  * @param exactPValues opt-in exact Student-t p-values (the reference's
  *   scipy primary path, correlation.py:11-12); the default stays the
  *   normal approximation the cross-engine oracle pins
  *   (correlation.py:50-61, SURVEY.md §7.4.2).
  */
class CorrelationJob(spark: SparkSession, warehouseDir: String,
    exactPValues: Boolean = false) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val wh = Warehouse(spark, warehouseDir)

  /** J1: facts keyed to their sample accessions — the requested
    * studies' facts and samples (F7-pruned, [[Warehouse.readStudies]];
    * the parquet backend lists only their partitions, the snapshot
    * backend only their segments) when `studyKeys` is given, else every
    * study's.
    */
  private def longFacts(studyKeys: Option[Seq[Long]]): DataFrame = {
    def read(table: String) = studyKeys.fold(wh.read(table))(wh.readStudies(table, _))
    val facts = read("fact_expression")
    val dimSample = read("dim_sample").select("sample_key", "gsm_accession")
    facts.join(broadcast(dimSample), Seq("sample_key"))
      .select(col("study_key"), col("gene_key"), col("gsm_accession"), col("expression_value"))
  }

  // study_key arrives as IntegerType when read back off hive-style
  // partition directories — go through Number, not a fixed cast
  private def asLong(r: Row, c: String): Long = r.getAs[Number](c).longValue()

  /** The analytical core as one DataFrame over the studies of `shape`
    * (per-study `g` genes, `s` samples, `n` facts — see [[run]]), pairs
    * keyed and gated.
    */
  private def correlationsFor(long: DataFrame, shape: Seq[Row], computedAt: String,
      minSamples: Int = 2): DataFrame = {
    // Per-study path choice: a COMPLETE matrix (every gene observed on
    // every sample — facts are unique on (sample, gene, study), so
    // complete ⟺ rows = genes × samples) lets the dense path rank once
    // per gene instead of once per pair: O(G·n) window work instead of
    // O(G²·n), identical output (ranks over shared samples equal global
    // ranks when nothing is missing; pinned by StatsSpec). Incomplete
    // studies take the exact shared-sample path.
    val (completeKeys, sparseKeys) = shape.partition(r =>
      asLong(r, "n") == asLong(r, "g") * asLong(r, "s"))
    def run(keys: Seq[Long], dense: Boolean): Option[DataFrame] =
      if (keys.isEmpty) None
      else {
        val subset = long.where(Warehouse.inSet("study_key", keys))
        Some(
          if (dense) Spearman.pairCorrelationsDense(subset, Seq("study_key"),
            "gene_key", "gsm_accession", "expression_value", minSamples)
          else Spearman.pairCorrelations(subset, Seq("study_key"),
            "gene_key", "gsm_accession", "expression_value", minSamples))
      }
    val pairs = Seq(
      run(completeKeys.map(asLong(_, "study_key")), dense = true),
      run(sparseKeys.map(asLong(_, "study_key")), dense = false))
      .flatten.reduce(_ unionByName _)
      .withColumnRenamed("item_a", "gene_a_key")
      .withColumnRenamed("item_b", "gene_b_key")

    val withP = pairs.withColumn("p_raw",
      if (exactPValues) PValues.spearmanPExact(col("rho"), col("n_samples"))
      else PValues.spearmanP(col("rho"), col("n_samples")))
    val withQ = BenjaminiHochberg.qValues(withP, Seq(col("study_key")), col("p_raw"), "q_value")

    withQ.select(
      col("gene_a_key"), col("gene_b_key"),
      lit(null).cast("long").as("illness_key"), // always null (correlation.py:109,153)
      col("rho").as("rho_spearman"),
      coalesce(col("p_raw"), lit(1.0)).as("p_value"), // C4 persist policy
      col("q_value"),
      col("n_samples"),
      lit(computedAt).as("computed_at"),
      col("study_key"))
  }

  case class JobSummary(studies: Seq[String], pairs: Long)

  /** Run for the requested studies (all, when empty) and replace their
    * correlation partitions. Three Spark actions of its own, besides
    * the pair join's checkpoint ([[Spearman]]): the requested
    * accessions' keys (a `dim_study` collect), the per-study shape
    * aggregate over their F7-pruned facts, and the write of the pair
    * plan, whose row count an `Observation` takes as it streams by.
    */
  def run(requested: Seq[String] = Seq.empty): JobSummary = {
    val dimStudy = wh.read("dim_study")
    val named = (if (requested.isEmpty) dimStudy
        else dimStudy.where(Warehouse.inSet("gse_accession", requested)))
      .select("study_key", "gse_accession").collect()
      .map(r => asLong(r, "study_key") -> r.getAs[String]("gse_accession")).toMap
    val long = longFacts(if (requested.isEmpty) None else Some(named.keys.toSeq))
    // J2 + F6: a study is a target exactly when it has a shape row,
    // i.e. at least one fact
    val shape =
      if (named.isEmpty) Seq.empty
      else long.groupBy("study_key").agg(
          countDistinct("gene_key").as("g"),
          countDistinct("gsm_accession").as("s"),
          count(lit(1)).as("n"))
        .collect().toSeq.filter(r => named.contains(asLong(r, "study_key")))
    val targets = shape.map(r => asLong(r, "study_key")).map(k => k -> named(k))
      .sortBy(_._2) // O3
    val missing = requested.distinct.filterNot(targets.map(_._2).toSet.contains)
    if (missing.nonEmpty)
      log.warn(s"Requested studies without expression data: ${missing.sorted.mkString(", ")}")
    if (targets.isEmpty) return JobSummary(Seq.empty, 0L)
    // matches Python's datetime.isoformat(timespec="seconds"): +00:00, not Z
    val computedAt = java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
      .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx"))
    val observed = Observation()
    val out = correlationsFor(long, shape, computedAt)
      .observe(observed, count(lit(1)).as("pairs"))
    // explicit delete-then-append over the RESOLVED keys: a study whose
    // recomputation is empty must still lose its stale rows (dynamic
    // partition overwrite only touches partitions present in the frame).
    // Observation.get blocks until the observed write has finished.
    wh.replaceStudyPartitions("fact_gene_pair_corr", out, targets.map(_._1))
    JobSummary(targets.map(_._2), observed.get("pairs").asInstanceOf[Long])
  }
}
