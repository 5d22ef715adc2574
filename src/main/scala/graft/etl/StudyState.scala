package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** D4 resume-state surface (reference models.py:124-131,
  * repositories.py:254-287, pipeline.py:255-301).
  *
  * The reference checkpoints row-level progress (`last_processed_gene`,
  * `last_sample_index`) because its loader is a row-at-a-time iterator;
  * a Spark load is a single atomic distributed write, so the checkpoint
  * granularity collapses to the two PHASE flags the pipeline actually
  * branches on: metadata committed, facts committed.
  *
  * Lifecycle per study. A load reads only `facts_loaded`: a study with
  * no row and a study with an in-flight row are both processed.
  *  - a study no run has finished gets no row before its facts land:
  *    the load writes no in-flight row for it, since no row already
  *    means "process this study";
  *  - a study an earlier run finished (a `--no-resume` re-load) is
  *    downgraded to (metadata_loaded=true, facts_loaded=false), the
  *    in-flight marker (pipeline.py:274-280), before the load writes
  *    any of its dim or fact rows;
  *  - after the fact append: upsert (true, true) — this is the batch
  *    analog of the reference's `clear_state` on success
  *    (pipeline.py:299-301): no partial progress remains, and unlike a
  *    row deletion the terminal row stays observable as "last success",
  *    which is what lets a resumed run SKIP finished studies instead of
  *    re-scanning them through the idempotent anti-join path;
  *  - so a crash leaves no row, an in-flight row, or a terminal row
  *    over data this load has not touched. It never leaves a terminal
  *    row over a partial append.
  *
  * The table rides the [[Warehouse]] abstraction, so state lives next
  * to the data on either backend (parquet dir or JDBC database — the
  * reference keeps it in the same DB, models.py:124).
  */
object StudyState {

  val Table = "etl_study_state"

  case class State(metadataLoaded: Boolean, factsLoaded: Boolean)

  /** All state rows, keyed by accession (driver-scale: one row per
    * study ever attempted).
    */
  def load(wh: Warehouse): Map[String, State] =
    wh.read(Table).collect().map { r =>
      r.getAs[String]("study_accession") ->
        State(r.getAs[Boolean]("metadata_loaded"), r.getAs[Boolean]("facts_loaded"))
    }.toMap

  /** Finished studies — safe to skip on a resumed run. */
  def completed(wh: Warehouse): Set[String] =
    load(wh).collect { case (acc, s) if s.factsLoaded => acc }.toSet

  /** Upsert state for `accessions` (one shared flag pair — callers
    * batch per phase). Tiny table: read-modify-write through writeDim's
    * recoverable swap.
    */
  def upsert(wh: Warehouse, spark: SparkSession, accessions: Seq[String],
      metadataLoaded: Boolean, factsLoaded: Boolean): Unit = {
    if (accessions.isEmpty) return
    val now = new Timestamp(System.currentTimeMillis())
    val rows = accessions.map(a => (a, metadataLoaded, factsLoaded, now))
    val incoming: DataFrame = spark.createDataFrame(rows)
      .toDF("study_accession", "metadata_loaded", "facts_loaded", "updated_at")
    wh.writeDim(Table, others(wh, accessions).unionByName(incoming))
  }

  /** The reference's literal `clear_state` (repositories.py:283-287),
    * for callers that want a study forgotten entirely (forces full
    * reprocessing on the next run).
    */
  def clear(wh: Warehouse, accessions: Seq[String]): Unit = {
    if (accessions.isEmpty) return
    wh.writeDim(Table, others(wh, accessions))
  }

  /** The state rows of every study but `accessions`. The filter refers
    * to the set ([[Warehouse.inSet]]), so its generated code is the
    * same whatever the accessions and their number.
    */
  private def others(wh: Warehouse, accessions: Seq[String]): DataFrame =
    wh.read(Table).where(!Warehouse.inSet("study_accession", accessions))
}
