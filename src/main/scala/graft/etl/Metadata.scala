package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

class MetadataFormatError(msg: String) extends RuntimeException(msg)

/** Metadata TSV normalization (reference: src/etl_for_all_studies/
  * metadata_processing.py:45-168).
  *
  * Header resolution is *driver-side* against `df.columns` — the same
  * 3-tier candidate matching as the reference (exact, case-insensitive,
  * digit-stripped-normalized, metadata_processing.py:45-102) compiled
  * into one `coalesce(...)` projection per logical field, so the
  * per-row work stays columnar/codegen'd (SURVEY.md §1.3).
  *
  * Row semantics preserved exactly:
  *  - required columns refinebio_accession_code + experiment_accession
  *    (else MetadataFormatError);
  *  - rows with blank GSM are dropped (F5);
  *  - a field is the first non-blank value over its candidates, where
  *    an exact-header candidate does NOT fall through to other headers
  *    (only to the next candidate), while non-exact candidates take the
  *    first non-blank among case-insensitive matches then normalized
  *    matches in column order;
  *  - everything unresolved becomes the string "UNKNOWN".
  */
object Metadata {
  import Schema.UnknownValue

  private[etl] def normalizeHeader(name: String): String =
    name.replaceAll("\\d+", "").trim.toLowerCase

  /** Ordered header list matched by one candidate (3-tier rules). */
  private[etl] def candidateHeaders(cand: String, headers: Seq[String]): Seq[String] =
    if (cand.isEmpty) Seq.empty
    else if (headers.contains(cand)) Seq(cand)
    else if (headers.contains(cand.trim)) Seq(cand.trim)
    else {
      val cf = headers.filter(_.toLowerCase == cand.toLowerCase)
      val nm = headers.filter(h => normalizeHeader(h) == normalizeHeader(cand))
      cf ++ nm.filterNot(cf.contains)
    }

  private def nonBlank(h: String): Column = {
    val v = trim(col(h))
    when(v =!= "", v)
  }

  /** First non-blank value across candidates, else UNKNOWN. */
  private[etl] def resolveField(headers: Seq[String], candidates: Seq[String]): Column = {
    val exprs = candidates.flatMap(c => candidateHeaders(c, headers)).map(nonBlank)
    if (exprs.isEmpty) lit(UnknownValue)
    else coalesce((exprs :+ lit(UnknownValue)): _*)
  }

  /** Read + normalize metadata TSV(s) to SampleMetadata shape, plus a
    * `__ord` column pinning FILE order: (index of the file in sorted
    * path order) ⧺ (byte offset of the record within its file).
    *
    * Why not `monotonically_increasing_id`: that reflects scan
    * PARTITION order, and the file scan packs splits by SIZE, not path
    * — two metadata files can come out transposed, flipping which
    * duplicate-GSM row "wins" (reference semantics: first row in file
    * order, repositories.py:188-251). The Hadoop record offset is
    * derived from content alone, so the ordinal survives any split
    * layout; rows parse through `from_csv`, the same Univocity parser
    * as `spark.read.csv`.
    */
  def load(spark: SparkSession, path: String, mappings: FieldMappingConfig,
      enforceRequired: Boolean = true): DataFrame =
    listInputFiles(spark, path).zipWithIndex
      .map { case (file, idx) =>
        normalize(rawWithOrdinal(spark, file, idx), mappings, enforceRequired, file)
      }
      .reduce(_ unionByName _)

  /** Files matched by `path` (file, directory, or glob) in sorted path
    * order — the deterministic S1-style ordering the ordinal encodes.
    */
  private def listInputFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val files = matched
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    if (files.isEmpty)
      throw new MetadataFormatError(s"Metadata path $path matched no files")
    files.map(_.getPath.toString).sorted
  }

  /** The first line of `file`, read DRIVER-side through the Hadoop
    * FileSystem (a few-KB stream read) with the codec resolution the
    * TextInputFormat body scan uses, so a .tsv.gz header decompresses
    * instead of parsing gzip bytes; None for an empty file. Shared by
    * the metadata and expression header reads — a Spark job per file
    * just for the header would make a multi-study load scheduler-bound.
    */
  private[etl] def firstLine(spark: SparkSession, file: String): Option[String] = {
    val reader = openText(spark, file)
    try Option(reader.readLine())
    finally reader.close()
  }

  /** `file` as UTF-8 text, opened DRIVER-side through the Hadoop
    * FileSystem of its URI and decompressed by the codec its extension
    * names (the TextInputFormat resolution). The caller closes it.
    */
  private[etl] def openText(spark: SparkSession, file: String): java.io.BufferedReader = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
        .getCodec(p))
      .map(_.createInputStream(raw): java.io.InputStream)
      .getOrElse(raw)
    new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** One file → all-strings DataFrame in header shape + `__ord`.
    * TextInputFormat's record key IS the record's byte offset in the
    * file; the header is the offset-0 record. fileIdx lives in the
    * ordinal's high bits (44-bit offsets ⇒ files up to 16 TiB).
    */
  private def rawWithOrdinal(spark: SparkSession, file: String, fileIdx: Int): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    import spark.implicits._
    // names are taken VERBATIM (no trim): this path claims
    // spark.read.csv header parity (makeSafeHeader), and the CSV reader
    // does not trim header cells — readLine() already strips the CR/LF
    // terminator, so there is no line-ending residue to clean.
    // Verbatim is also REFERENCE parity, not just CSV-reader parity:
    // csv.DictReader keeps fieldnames untrimmed, the required-column
    // check is a verbatim set difference (metadata_processing.py:118-123
    // — a padded required header fails there too), and a padded
    // optional header still resolves through the tier-3 rule because
    // _normalize_header strips whitespace (:58), as does ours.
    val rawNames = firstLine(spark, file)
      .getOrElse(throw new MetadataFormatError(s"Metadata file $file is empty"))
      .split("\t", -1)
    // duplicate header cells get the same position-suffix rename
    // spark.read.csv applied (makeSafeHeader): the exact-name candidate
    // no longer matches but the digit-stripped tier-3 rule still does —
    // wide GEO/refinebio exports repeat characteristic columns. A
    // literal __ord header is also renamed so the appended ordinal
    // column stays unambiguous.
    val dupCounts = rawNames.groupBy(identity).view.mapValues(_.length).toMap
    val headers = rawNames.zipWithIndex.map { case (n, i) =>
      val deduped = if (dupCounts(n) > 1) s"$n$i" else n
      if (deduped == "__ord") s"__ord_hdr$i" else deduped
    }
    val schema = org.apache.spark.sql.types.StructType(
      headers.map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType)))
    spark.sparkContext
      .newAPIHadoopFile(file, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text])
      .map { case (off, line) => (off.get, line.toString) } // Text is reused: copy now
      .toDF("__off", "__line")
      .where(col("__off") > 0) // drop the header record
      .select(
        from_csv(col("__line"), schema, Map("sep" -> "\t")).as("__r"),
        (lit(fileIdx.toLong << 44) + col("__off")).as("__ord"))
      .select(col("__r.*"), col("__ord"))
  }

  /** Normalize an already-read all-strings metadata DataFrame. A
    * `__ord` column, when present (the [[load]] path), passes through.
    */
  def normalize(raw: DataFrame, mappings: FieldMappingConfig,
      enforceRequired: Boolean = true, context: String = "<df>"): DataFrame = {
    val headers = raw.columns.toSeq.filterNot(_ == "__ord")
    val required = Seq("refinebio_accession_code", "experiment_accession")
    val missing = required.filterNot(headers.contains)
    if (enforceRequired && missing.nonEmpty)
      throw new MetadataFormatError(
        s"Metadata file $context missing required columns: ${missing.sorted.mkString("[", ", ", "]")}")

    def colOr(h: String): Column =
      if (headers.contains(h)) trim(col(h)) else lit("")

    val fields = Seq(
      colOr("refinebio_accession_code").as("gsm_accession"),
      coalesce(when(colOr("experiment_accession") =!= "",
        colOr("experiment_accession")), lit(UnknownValue)).as("study_accession"),
      resolveField(headers, mappings.platformFields).as("platform_accession"),
      resolveField(headers, mappings.illnessFields).as("illness_label"),
      resolveField(headers, mappings.ageFields).as("age"),
      resolveField(headers, mappings.sexFields).as("sex")) ++
      (if (raw.columns.contains("__ord")) Seq(col("__ord")) else Nil)
    raw.select(fields: _*)
      .where(col("gsm_accession") =!= "") // F5: blank-GSM rows dropped
  }

  /** X6: samples referencing a different experiment accession are
    * forced to the directory-derived study (pipeline.py:131-139);
    * returns the overridden frame (the caller logs the mismatch count).
    */
  def overrideStudyAccession(samples: DataFrame, accession: String): DataFrame =
    samples.withColumn("study_accession", lit(accession))
}
