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
  * `dim_sample` rows of the batch's studies, and runs only when one of
  * them was loaded before. The driver numbers the naturals no dim
  * holds from max key + 1, in the order a Spark sort gives them (UTF-8
  * bytes, [[SparkStringOrder]]; samples by `(gsm_accession,
  * study_key)`) — the dense numbering of a global row_number over the
  * new rows, stable across re-runs (SURVEY.md §7.4 decision 1). Each
  * dim then gets only its new rows: the vocabulary dims an append,
  * `dim_sample` a replace of the batch's study partitions, whose rows
  * the driver merges ([[mergeSamples]], the reference's in-memory
  * upsert) and writes as a local relation.
  *
  * Bound: nothing collected is larger than data the driver already
  * holds. The vocabulary naturals are the batch's distinct labels; the
  * gene ids are a subset of the whitelist, which `GeneFilter.ids`
  * reads on the driver. The sample rows are O(samples): each study's
  * prep collects its normalized metadata rows (seven short columns a
  * sample, the same order as the GSM lists the expression read needs),
  * and a re-delivered study adds the `dim_sample` rows its earlier
  * loads wrote. Expression facts never come to the driver.
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
    * `(gsm_accession, study_key)` of the batch to its sample key;
    * `loaded` holds the `dim_sample` rows of the batch's studies that
    * were loaded before.
    */
  case class BatchKeys(study: Keyed, platform: Keyed, illness: Keyed, gene: Keyed,
      samples: Map[(String, Long), Long], loaded: Seq[SampleRow])

  /** One normalized metadata row ([[Metadata.normalize]]'s columns) as
    * a study's prep collects it: the labels as the TSV gave them, and
    * `ord`, the row's FILE order.
    */
  case class SampleMeta(gsm: String, study: String, platform: String, illness: String,
      age: String, sex: String, ord: Long)

  /** A `dim_sample` row; a null FK is None. */
  case class SampleRow(sampleKey: Long, gsm: String, studyKey: Long,
      platformKey: Option[Long], illnessKey: Option[Long], age: String, sex: String) {
    def toRow: Row =
      Row(sampleKey, gsm, studyKey, platformKey.getOrElse(null), illnessKey.getOrElse(null), age, sex)
  }

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
      when(Warehouse.inSet(naturalCol, naturals), col(naturalCol))
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

    // D3: the batch's (gsm, study) pairs; the studies' existing rows are
    // read only when one was loaded before, pruned to its partitions (F7)
    val loadedStudies = knownOf("dim_study").keys.values.toSeq
    val loaded =
      if (loadedStudies.isEmpty) Seq.empty[SampleRow]
      else w.readStudies("dim_sample", loadedStudies).collect().toSeq.map { r =>
        def key(c: String) = Option(r.getAs[Number](c)).map(_.longValue())
        SampleRow(key("sample_key").get, r.getAs[String]("gsm_accession"), key("study_key").get,
          key("platform_key"), key("illness_key"), r.getAs[String]("age"), r.getAs[String]("sex"))
      }
    val pairs = gsms.toSeq.flatMap { case (acc, ids) =>
      study.all.get(acc).toSeq.flatMap(k => ids.map(_ -> k)) }
    val knownSamples = Known(loaded.map(r => (r.gsm, r.studyKey) -> r.sampleKey).toMap,
      knownOf("dim_sample").maxKey)
    val sampleKeys = knownSamples.keys ++ knownSamples.fresh(pairs)(SampleOrder)
    BatchKeys(study, keyed("dim_platform", platformNaturals),
      keyed("dim_illness", illnessNaturals), keyed("dim_gene", geneNaturals),
      pairs.map(p => p -> sampleKeys(p)).toMap, loaded)
  }

  /** Driver-held tuples as a local relation, which no job builds: one
    * non-null column per `(name, type)` of `cols`, in tuple order.
    */
  def local(spark: SparkSession, cols: (String, DataType)*)(rows: Iterable[Product]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(Row.fromTuple).toSeq.asJava,
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) }))
  }

  /** `rows` as a local relation in `dim_sample`'s declared schema. */
  def sampleRelation(spark: SparkSession, rows: Seq[SampleRow]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(_.toRow).asJava, Warehouse.schemas("dim_sample"))
  }

  /** D3: the sample-dimension merge-upsert on `(gsm_accession,
    * study_key)`, on the driver — the reference's in-memory row loop
    * (repositories.py:188-251). Returns the `dim_sample` rows of the
    * batch's studies: the `keys.loaded` rows, updated by the `incoming`
    * rows of their pair, and a new row per pair they lack, with its key
    * from `keys.samples`.
    *
    * The incoming labels key through `keys` (study by accession,
    * platform and illness by natural); a blank or UNKNOWN label is a
    * null FK (F8). Per pair, platform and illness take the LAST
    * non-null FK in `ord` order (each differing value updates in the
    * reference's loop), and overwrite the loaded value; age and sex
    * take the FIRST non-UNKNOWN value, which fills only an UNKNOWN
    * loaded value. A new row with no known age or sex stores UNKNOWN.
    */
  def mergeSamples(incoming: Seq[SampleMeta], keys: BatchKeys): Seq[SampleRow] = {
    def fk(k: Keyed, label: String): Option[Long] = natural(label).flatMap(k.all.get)
    // (ord, position) orders the rows; the position breaks ties between
    // two preps of one accession as input order
    val byPair = incoming.zipWithIndex.flatMap { case (m, i) =>
      keys.study.all.get(m.study).map(s => ((m.gsm, s), (m, (m.ord, i))))
    }.groupMap(_._1)(_._2).view.mapValues(_.sortBy(_._2).map(_._1)).toMap
    def lastFk(rows: Seq[SampleMeta], k: Keyed, label: SampleMeta => String) =
      rows.reverseIterator.flatMap(m => fk(k, label(m))).nextOption()
    def firstKnown(rows: Seq[SampleMeta], v: SampleMeta => String) =
      rows.iterator.map(v).find(_ != UnknownValue)
    def fill(current: String, in: Option[String]) =
      if (current == UnknownValue) in.getOrElse(current) else current
    val updated = keys.loaded.map { r =>
      byPair.get((r.gsm, r.studyKey)).fold(r) { rows =>
        r.copy(
          platformKey = lastFk(rows, keys.platform, _.platform).orElse(r.platformKey),
          illnessKey = lastFk(rows, keys.illness, _.illness).orElse(r.illnessKey),
          age = fill(r.age, firstKnown(rows, _.age)),
          sex = fill(r.sex, firstKnown(rows, _.sex)))
      }
    }
    val have = keys.loaded.map(r => (r.gsm, r.studyKey)).toSet
    val added = byPair.toSeq.filterNot { case (pair, _) => have(pair) }.map {
      case (pair @ (gsm, study), rows) =>
        SampleRow(keys.samples(pair), gsm, study,
          lastFk(rows, keys.platform, _.platform), lastFk(rows, keys.illness, _.illness),
          firstKnown(rows, _.age).getOrElse(UnknownValue),
          firstKnown(rows, _.sex).getOrElse(UnknownValue))
    }
    (updated ++ added).sortBy(_.sampleKey)
  }
}
