package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Dimension maintenance — get-or-create keyed on the driver
  * (reference: src/etl_for_all_studies/repositories.py:67-251;
  * SURVEY.md §2.5 D1-D3).
  *
  * The reference's per-row cache-probe + insert-if-absent becomes one
  * lookup per load ([[keyBatch]]): one query through the warehouse view
  * returns the keys the dims already hold for the batch's naturals and
  * each dim's max key; a second, F7-pruned read returns the
  * `(gsm_accession, study_key, sample_key)` rows of the batch's
  * studies, and runs only when one of them was loaded before. The driver numbers the naturals no dim holds
  * from max key + 1, in the order a Spark sort gives them (UTF-8 bytes,
  * [[SparkStringOrder]]; samples by `(gsm_accession, study_key)`) — the
  * dense numbering of a global row_number over the new rows, stable
  * across re-runs (SURVEY.md §7.4 decision 1). Each dim then gets only
  * its new rows: the vocabulary dims an append, `dim_sample` a replace
  * of the batch's study partitions ([[upsertSampleDim]]).
  *
  * Bound: nothing collected is larger than data the driver already
  * holds. The vocabulary naturals are the batch's distinct labels,
  * which the prep aggregate collects; the gene ids are a subset of the
  * whitelist, which `GeneFilter.ids` reads on the driver; the sample
  * keys are the batch's GSM lists (collected by the prep aggregate)
  * plus, for a re-delivered study, the keys its earlier loads gave.
  */
object Dims {
  import Schema.UnknownValue

  /** Spark's string order: UTF-8 bytes compared unsigned, as
    * `UTF8String` does — not Java's UTF-16 `String` order, which puts
    * a surrogate pair (U+1F600) before U+FF21.
    */
  val SparkStringOrder: Ordering[String] = (a: String, b: String) =>
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** The order of new sample keys: `(gsm_accession, study_key)`. */
  val SampleOrder: Ordering[(String, Long)] = Ordering.Tuple2(SparkStringOrder, Ordering.Long)

  /** The dim natural a raw label stores as, or None when the guard
    * drops it: spaces trimmed as Spark's `trim` does, blank dropped,
    * and with `dropUnknown` UNKNOWN dropped too — platform/illness
    * never create an UNKNOWN dim row (F8 maps those to null FKs); genes
    * keep UNKNOWN-valued ids (no UNKNOWN guard in the reference's
    * get_or_create_gene).
    */
  def natural(raw: String, dropUnknown: Boolean = true): Option[String] =
    Option(raw).map(r => UTF8String.fromString(r).trim().toString)
      .filter(n => n.nonEmpty && !(dropUnknown && n == UnknownValue))

  /** What one dim holds for a batch: the keys of the batch's naturals
    * it already has, and its max key (0 when empty).
    */
  case class Known[K](keys: Map[K, Long], maxKey: Long) {

    /** D1/D2: keys for the distinct `incoming` naturals this dim
      * lacks, dense from maxKey + 1 in `ord` order.
      */
    def fresh(incoming: Iterable[K])(implicit ord: Ordering[K]): Seq[(K, Long)] =
      incoming.iterator.filterNot(keys.contains).toSeq.distinct.sorted(ord).zipWithIndex
        .map { case (k, i) => k -> (maxKey + 1 + i) }
  }

  /** One vocabulary dim's keys for a batch: every natural of the batch
    * with its key, and the rows the dim lacks.
    */
  case class Keyed(all: Map[String, Long], fresh: Seq[(String, Long)])

  /** A batch's keys, all on the driver. `samples` maps each
    * `(gsm_accession, study_key)` of the batch to its sample key.
    */
  case class BatchKeys(study: Keyed, platform: Keyed, illness: Keyed, gene: Keyed,
      samples: Map[(String, Long), Long], freshSamples: Seq[((String, Long), Long)])

  /** Keys every dim row a batch needs, through `w` (so a snapshot
    * transaction sees its own view). `gsms` maps each study accession
    * to its GSM accessions; `geneIds` is a one-column frame of the
    * batch's gene ids, all of them in `whitelist`. See the object
    * scaladoc for the queries and the bound.
    */
  def keyBatch(w: Warehouse, gsms: Map[String, Seq[String]], platforms: Seq[String],
      illnesses: Seq[String], geneIds: DataFrame, whitelist: Seq[String]): BatchKeys = {
    val studyNaturals = gsms.keys.flatMap(natural(_)).toSeq.distinct
    val platformNaturals = platforms.flatMap(natural(_)).distinct
    val illnessNaturals = illnesses.flatMap(natural(_)).distinct
    // ONE aggregate over one scan per dim plus the batch's gene ids: a
    // row per batch natural the dim holds (`dim`, natural, key; for
    // dim_gene every whitelisted id it holds), per batch gene id it
    // lacks (a null key), and per dim the max key of its other rows (a
    // null natural)
    def scan(table: String, keyCol: String, natural: org.apache.spark.sql.Column) =
      w.read(table).select(lit(table).as("dim"), natural.cast(StringType).as("natural"),
        col(keyCol).as("key"))
    def batchOnly(naturalCol: String, naturals: Seq[String]) =
      when(Warehouse.inSet(naturalCol, naturals.map(UTF8String.fromString)), col(naturalCol))
    val genes = geneIds.toDF("natural")
      .select(lit("dim_gene").as("dim"), col("natural"), lit(null).cast(LongType).as("key"))
    val rows = Seq(
      scan("dim_study", "study_key", batchOnly("gse_accession", studyNaturals)),
      scan("dim_platform", "platform_key", batchOnly("platform_accession", platformNaturals)),
      scan("dim_illness", "illness_key", batchOnly("illness_label", illnessNaturals)),
      scan("dim_gene", "gene_key", batchOnly("ensembl_id", whitelist)),
      scan("dim_sample", "sample_key", lit(null)),
      genes).reduce(_ unionByName _)
      .groupBy("dim", "natural").agg(max(col("key")).as("key"))
      .collect()
    def knownOf(dim: String): Known[String] = {
      val mine = rows.filter(_.getString(0) == dim)
      Known(
        mine.collect { case r if !r.isNullAt(1) && !r.isNullAt(2) => r.getString(1) -> r.getLong(2) }.toMap,
        (0L +: mine.collect { case r if !r.isNullAt(2) => r.getLong(2) }.toSeq).max)
    }
    def keyed(dim: String, naturals: Seq[String]): Keyed = {
      val k = knownOf(dim)
      val fresh = k.fresh(naturals)(SparkStringOrder)
      Keyed(k.keys ++ fresh, fresh)
    }
    val geneNaturals = rows.collect { case r if r.getString(0) == "dim_gene" && !r.isNullAt(1) =>
      r.getString(1) }.toSeq.flatMap(natural(_, dropUnknown = false))
    val study = keyed("dim_study", studyNaturals)

    // D3: the batch's (gsm, study) pairs; the study's existing keys are
    // read only when the study was loaded before, pruned to its
    // partitions (F7)
    val loaded = knownOf("dim_study").keys.values.toSeq
    val existing =
      if (loaded.isEmpty) Seq.empty[Row]
      else w.readStudies("dim_sample", loaded)
        .select("gsm_accession", "study_key", "sample_key").collect().toSeq
    val pairs = gsms.toSeq.flatMap { case (acc, ids) =>
      study.all.get(acc).toSeq.flatMap(k => ids.map(_ -> k)) }
    val knownSamples = Known(existing.map(r =>
      (r.getString(0), r.getAs[Number](1).longValue()) -> r.getAs[Number](2).longValue()).toMap,
      knownOf("dim_sample").maxKey)
    val freshSamples = knownSamples.fresh(pairs)(SampleOrder)
    val sampleKeys = knownSamples.keys ++ freshSamples
    BatchKeys(study, keyed("dim_platform", platformNaturals),
      keyed("dim_illness", illnessNaturals), keyed("dim_gene", geneNaturals),
      pairs.map(p => p -> sampleKeys(p)).toMap, freshSamples)
  }

  /** Driver-held tuples as a local relation, which no job builds: one
    * non-null column per `(name, type)` of `cols`, in tuple order.
    */
  def local(spark: SparkSession, cols: (String, DataType)*)(rows: Iterable[Product]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(Row.fromTuple).toSeq.asJava,
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) }))
  }

  /** D3: sample-dimension merge-upsert on (gsm_accession, study_key).
    *
    * `existing`: the `dim_sample` rows of the incoming studies (all of
    * them — the result replaces those studies' rows, and may be written
    * by the replace that reads them, [[Warehouse]]). `incoming`
    * columns: gsm_accession, study_key, platform_key, illness_key
    * (already-resolved nullable FKs — UNKNOWN ⇒ null, F8), age, sex,
    * __ord (intra-batch order for duplicate-GSM resolution). `fresh`:
    * the keys of the incoming pairs `existing` lacks ([[Known.fresh]]).
    *
    * Matched rows: platform/illness overwritten by the LAST non-null
    * incoming value (each differing value updates in the reference's
    * row loop); age/sex filled by the FIRST non-UNKNOWN incoming value
    * and only if the current value is UNKNOWN (repositories.py:188-251).
    * New rows: inserted with UNKNOWN defaults and their fresh keys.
    */
  def upsertSampleDim(existing: DataFrame, incoming: DataFrame,
      fresh: Seq[((String, Long), Long)]): DataFrame = {
    val collapsed = incoming
      .groupBy("gsm_accession", "study_key")
      .agg(
        max_by(struct(col("platform_key")), when(col("platform_key").isNotNull, col("__ord")))
          .getField("platform_key").as("platform_key"),
        max_by(struct(col("illness_key")), when(col("illness_key").isNotNull, col("__ord")))
          .getField("illness_key").as("illness_key"),
        min_by(struct(col("age")), when(col("age") =!= UnknownValue, col("__ord")))
          .getField("age").as("age"),
        min_by(struct(col("sex")), when(col("sex") =!= UnknownValue, col("__ord")))
          .getField("sex").as("sex"))

    val inc = collapsed.select(
      col("gsm_accession").as("i_gsm"), col("study_key").as("i_study"),
      col("platform_key").as("i_platform"), col("illness_key").as("i_illness"),
      col("age").as("i_age"), col("sex").as("i_sex"))

    val joined = existing.join(inc,
      col("gsm_accession") === col("i_gsm") && col("study_key") === col("i_study"),
      "full_outer")

    val matchedOrExisting = joined.where(col("sample_key").isNotNull).select(
      col("sample_key"), col("gsm_accession"), col("study_key"),
      coalesce(col("i_platform"), col("platform_key")).as("platform_key"),
      coalesce(col("i_illness"), col("illness_key")).as("illness_key"),
      when((col("age").isNull || col("age") === UnknownValue) &&
        col("i_age").isNotNull && col("i_age") =!= UnknownValue, col("i_age"))
        .otherwise(coalesce(col("age"), lit(UnknownValue))).as("age"),
      when((col("sex").isNull || col("sex") === UnknownValue) &&
        col("i_sex").isNotNull && col("i_sex") =!= UnknownValue, col("i_sex"))
        .otherwise(coalesce(col("sex"), lit(UnknownValue))).as("sex"))

    val freshKeys = local(incoming.sparkSession,
      "i_gsm" -> StringType, "i_study" -> LongType, "sample_key" -> LongType)(
      fresh.map { case ((gsm, study), k) => (gsm, study, k) })
    val added = joined.where(col("sample_key").isNull).drop("sample_key")
      .join(broadcast(freshKeys), Seq("i_gsm", "i_study"))
      .select(col("sample_key"),
        col("i_gsm").as("gsm_accession"), col("i_study").as("study_key"),
        col("i_platform").as("platform_key"), col("i_illness").as("illness_key"),
        coalesce(col("i_age"), lit(UnknownValue)).as("age"),
        coalesce(col("i_sex"), lit(UnknownValue)).as("sex"))

    matchedOrExisting.unionByName(added)
  }

  /** Resolve a dim's natural value to its nullable FK with the UNKNOWN
    * guard (F8): blank/UNKNOWN ⇒ null key, never a dim row.
    */
  def resolveFk(df: DataFrame, dim: DataFrame, naturalCol: String,
      dimNatural: String, keyCol: String): DataFrame = {
    val d = dim.select(col(keyCol), col(dimNatural).as(naturalCol))
    df.withColumn(naturalCol,
        when(col(naturalCol) === UnknownValue || col(naturalCol) === "", lit(null))
          .otherwise(col(naturalCol)))
      .join(broadcast(d), Seq(naturalCol), "left")
  }
}
