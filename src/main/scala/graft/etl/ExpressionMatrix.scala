package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

class ExpressionFormatError(msg: String) extends RuntimeException(msg)

/** Wide gene×sample expression matrix → long (gene_id,
  * sample_accession, expression_value) triples (SURVEY.md §2.3 R1,
  * reference: src/etl_for_all_studies/expression_processing.py:24-113).
  *
  * Validation semantics preserved from the reference: first column must
  * be gene/ensembl_id (case-insensitive), ≥2 columns, expected sample
  * columns that are absent are warned-and-dropped, all-absent is an
  * error, blank genes are skipped (F3), non-numeric values are dropped
  * via cast-null (F4).
  *
  * Scale note — why `load` does NOT use the CSV reader + unpivot: a
  * 5,000-sample file makes a 5,001-column schema, and both the CSV
  * row materialization and the unpivot's per-column expression tree
  * scale with column count (measured 38 s for a 44 MB file; the line
  * path below is 0.6 s). Reading `text` and splitting each line into
  * ONE array keeps per-row work O(width) in a single codegen'd
  * expression, and `posexplode` emits the triples directly. Lines are
  * split on tabs only — no quoting, same as the domain's TSVs and the
  * reference's tab-dialect reader in practice.
  */
object ExpressionMatrix {

  /** Header checks shared by both entry points; returns the expected
    * sample columns actually present (warn on missing, error on none).
    */
  private def validateHeaders(headers: Seq[String], expectedSamples: Seq[String],
      context: String): Seq[String] = {
    if (expectedSamples.isEmpty)
      throw new ExpressionFormatError("No sample columns provided for expression processing")
    if (headers.size < 2)
      throw new ExpressionFormatError(
        s"Expression file $context must contain gene column and at least one sample column")
    if (!Set("gene", "ensembl_id").contains(headers.head.trim.toLowerCase))
      throw new ExpressionFormatError(
        s"Expression file $context must begin with a gene identifier column")
    val sampleHeaders = headers.tail.toSet
    val missing = expectedSamples.filterNot(sampleHeaders.contains)
    if (missing.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Expression file $context missing expected sample columns: ${missing.sorted}")
    val kept = expectedSamples.filter(sampleHeaders.contains)
    if (kept.isEmpty)
      throw new ExpressionFormatError(
        s"Expression file $context missing all expected sample columns from metadata")
    kept
  }

  /** Read the TSV and melt to (gene_id, sample_accession,
    * expression_value). `expectedSamples` comes from the study's
    * metadata (gsm accessions). The header is read on the driver
    * ([[Metadata.firstLine]]), so building the frame runs no job.
    */
  def load(spark: SparkSession, path: String, expectedSamples: Seq[String]): DataFrame = {
    val headerLine = Metadata.firstLine(spark, path).getOrElse(
      throw new ExpressionFormatError(s"Expression file $path is empty"))
    val headers = headerLine.split("\t", -1).map(_.trim).toSeq
    val kept = validateHeaders(headers, expectedSamples, path)

    val n = headers.size
    val names = array(headers.tail.map(lit): _*)
    val long = spark.read.text(path)
      .where(col("value") =!= headerLine)
      .select(split(col("value"), "\t", -1).as("f"))
      .select(trim(element_at(col("f"), 1)).as("gene_id"),
        posexplode(slice(col("f"), 2, n - 1)).as(Seq("i", "__raw")))
      .where(col("gene_id") =!= "") // F3
      .select(col("gene_id"),
        element_at(names, col("i") + 1).as("sample_accession"),
        col("__raw").cast("double").as("expression_value"))
      .where(col("expression_value").isNotNull) // F4: non-parsable dropped

    // F2: keep only the expected-and-present sample columns. When they
    // cover the whole header (the normal case) no filter is needed; a
    // subset goes through a broadcast semi-join, not a width-sized
    // isin/per-column projection.
    if (kept.toSet == headers.tail.toSet) long
    else {
      import spark.implicits._
      long.join(broadcast(kept.toDF("sample_accession")), Seq("sample_accession"), "left_semi")
    }
  }

  /** Melt an already-loaded wide DataFrame (tests, non-file sources).
    * Same semantics as [[load]]; fine for moderate widths — file-scale
    * inputs should go through [[load]]'s line path.
    */
  def melt(raw: DataFrame, expectedSamples: Seq[String], context: String = "<df>"): DataFrame = {
    val headers = raw.columns.toSeq
    val kept = validateHeaders(headers, expectedSamples, context)
    raw
      .select((trim(col(headers.head)).as("gene_id") +: kept.map(col)): _*)
      .where(col("gene_id") =!= "") // F3
      .unpivot(Array(col("gene_id")), kept.map(col).toArray, "sample_accession", "__raw")
      .withColumn("expression_value", col("__raw").cast("double"))
      .where(col("expression_value").isNotNull) // F4
      .drop("__raw")
  }
}
