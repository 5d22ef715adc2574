package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

class GeneFilterError(msg: String) extends RuntimeException(msg)

/** Gene whitelist loading + the scan-time semi-join filter (reference:
  * src/etl_for_all_studies/gene_filter.py:12-28 and
  * expression_processing.py:83-84; REQ-002 ~99% row reduction).
  *
  * The whitelist is tiny (~120 genes) so the filter is applied as a
  * broadcast left-semi join — Catalyst pushes it below the unpivot so
  * non-whitelisted genes are dropped before the melt multiplies rows.
  */
object GeneFilter {

  /** Distinct trimmed non-empty ensembl ids; errors mirror the reference.
    *
    * Read once on the DRIVER ([[Metadata.openText]]: Hadoop FileSystem
    * plus compression codec) and parsed with the settings `spark.read`
    * gives a tab-separated CSV with a header (the same Univocity
    * parser and options, so quoting and escapes agree). The whitelist
    * is bounded by the gene universe and the reference also holds it
    * in memory; a local relation saves the header-inference, scan and
    * emptiness jobs a CSV read would run. Ids are trimmed of spaces
    * only, as Spark's `trim` does.
    */
  def ids(spark: SparkSession, path: String): Seq[String] = {
    val settings = new CSVOptions(Map("sep" -> "\t", "header" -> "true"),
      columnPruning = false, defaultTimeZoneId = "UTC").asParserSettings
    // line by line, skipping blank lines, like the CSV reader's
    // non-multiLine scan (which also splits on \n, \r and \r\n)
    val rows = {
      val reader = Metadata.openText(spark, path)
      val parser = new CsvParser(settings)
      try Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).map(l => parser.parseLine(l).toSeq).toVector
      finally reader.close()
    }
    // spark.read renames a header cell that repeats case-insensitively,
    // so a repeated ensembl_id column is as absent as a missing one
    val header = rows.headOption.getOrElse(Seq.empty)
    val idx = header.indexOf("ensembl_id")
    if (idx < 0 || header.count(h => h != null && h.equalsIgnoreCase("ensembl_id")) > 1)
      throw new GeneFilterError(
        s"Gene filter file $path must include an 'ensembl_id' column")
    val ids = rows.drop(1).flatMap(r => Option(r.lift(idx).orNull))
      .map(_.replaceAll("^ +| +$", ""))
      .filter(_.nonEmpty)
      .distinct
    if (ids.isEmpty)
      throw new GeneFilterError(
        s"Gene filter file $path did not contain any gene identifiers")
    ids
  }

  /** Scan-time whitelist filter (F1): broadcast semi join on gene id. */
  def filterGenes(expr: DataFrame, genes: DataFrame, geneCol: String): DataFrame =
    expr.join(broadcast(genes.withColumnRenamed("ensembl_id", geneCol)),
      Seq(geneCol), "left_semi")
}
