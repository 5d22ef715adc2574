package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Surrogate keys across loads, pinned to a key table: three loads into
  * one warehouse (two new studies; one new study plus a re-delivered
  * one with a new sample, a filled age and a changed platform; one new
  * study over known vocabulary) must give these exact dim rows on every
  * backend. The labels and gene ids mix characters whose UTF-8 byte
  * order differs from Java's UTF-16 order (U+FF21 sorts before U+1F600
  * in UTF-8, after it in UTF-16), so keys follow Spark's string order.
  */
class DimKeySpec extends SparkSpec {

  private val header = "refinebio_accession_code\texperiment_accession\trefinebio_age\t" +
    "refinebio_sex\trefinebio_platform\tcharacteristics_ch2_illness"
  private val fullA = "Ａ"       // FULLWIDTH LATIN CAPITAL LETTER A
  private val grin = "😀"  // U+1F600, a surrogate pair in UTF-16

  private val filterTsv =
    Seq("ensembl_id", "ENSG_B", "ENSG_A", s"ENSG$fullA", s"ENSG$grin", "ENSG_C")
      .mkString("", "\n", "\n")

  /** (gsm, age, sex, platform, illness) rows; every sample gets one
    * value per listed gene.
    */
  private def study(root: Path, gse: String,
      samples: Seq[(String, String, String, String, String)], genes: Seq[String]): Path = {
    val d = Files.createDirectories(root.resolve(gse))
    val meta = samples.map { case (g, age, sex, pl, ill) => s"$g\t$gse\t$age\t$sex\t$pl\t$ill" }
    Files.writeString(d.resolve(s"metadata_$gse.tsv"), (header +: meta).mkString("", "\n", "\n"))
    val expr = ("gene" +: samples.map(_._1)).mkString("\t") +: genes.zipWithIndex.map {
      case (g, gi) => (g +: samples.indices.map(i => s"${gi * 10 + i}.5")).mkString("\t")
    }
    Files.writeString(d.resolve(s"expression_$gse.tsv"), expr.mkString("", "\n", "\n"))
    d
  }

  /** Runs the three loads into `target` and returns its five dims as
    * sorted strings.
    */
  private def loadAll(target: String): Map[String, Seq[String]] = {
    val root = tmpDir("graft-dimkeys")
    val filter = root.resolve("filter.tsv")
    Files.writeString(filter, filterTsv)
    val cfg = AppConfig(DatabaseConfig("unused"), ProcessingConfig(root, filter),
      LoggingConfig(logLevel = "WARN"))
    val job = new EtlJob(spark, cfg, target)
    val z = study(root.resolve("l1"), "GSE_Z", Seq(
      ("GSMz2", "40", "male", s"GPL$fullA", s"Illé"),
      ("GSMz1", "UNKNOWN", "female", s"GPL$grin", "UNKNOWN")),
      Seq("ENSG_B", s"ENSG$fullA"))
    val m1 = study(root.resolve("l1"), "GSE_M", Seq(
      ("GSMm1", "", "female", "GPL2", s"Ill$grin"),
      ("GSMz1", "31", "", "GPL2", "Healthy")),
      Seq("ENSG_A", s"ENSG$grin"))
    val a = study(root.resolve("l2"), "GSE_A", Seq(
      ("GSMa1", "22", "male", "GPL1", "Healthy")),
      Seq("ENSG_C", "ENSG_A"))
    val m2 = study(root.resolve("l2"), "GSE_M", Seq(
      ("GSMm0", "50", "male", "GPL2", "Healthy"),
      ("GSMm1", "27", "male", s"GPL$fullA", "")),
      Seq("ENSG_A", s"ENSG$grin"))
    val b = study(root.resolve("l3"), "GSE_B", Seq(
      ("GSMb1", "60", "female", "GPL1", s"Ill$grin")),
      Seq("ENSG_B"))
    Seq(Seq(z, m1), Seq(a, m2), Seq(b)).foreach { dirs =>
      val results = job.processUnioned(dirs)
      assert(results.forall(_.error.isEmpty), results.toString)
    }
    val wh = Warehouse(spark, target)
    Seq("dim_study", "dim_platform", "dim_illness", "dim_gene", "dim_sample").map { t =>
      val cols = Warehouse.schemas(t).fieldNames.toSeq
      t -> wh.read(t).collect().map(r => cols.map(c => String.valueOf(r.getAs[Any](c)))
        .mkString("|")).toSeq.sorted
    }.toMap
  }

  /** The dims after the three loads, captured from the load as it was
    * when every dim was rewritten whole each load (`Dims.upsertDim` and
    * its `zipKeys` numbering): the driver keying must reproduce it.
    */
  private val keyTable: Map[String, Seq[String]] = Map(
    "dim_study" -> Seq("1|GSE_M", "2|GSE_Z", "3|GSE_A", "4|GSE_B"),
    "dim_platform" -> Seq("1|GPL2", s"2|GPL$fullA", s"3|GPL$grin", "4|GPL1"),
    "dim_illness" -> Seq("1|Healthy", "2|Illé", s"3|Ill$grin"),
    "dim_gene" -> Seq("1|ENSG_A", "2|ENSG_B", s"3|ENSG$fullA", s"4|ENSG$grin", "5|ENSG_C"),
    "dim_sample" -> Seq("1|GSMm1|1|2|3|27|female", "2|GSMz1|1|1|1|31|UNKNOWN",
      "3|GSMz1|2|3|null|UNKNOWN|female", "4|GSMz2|2|2|2|40|male", "5|GSMa1|3|4|1|22|male",
      "6|GSMm0|1|1|1|50|male", "7|GSMb1|4|4|3|60|female"))

  private def sorted(t: Map[String, Seq[String]]) = t.map { case (k, v) => k -> v.sorted }

  test("dim keys match the key table on the parquet backend") {
    assert(loadAll(tmpDir("graft-dimkeys-wh").toString) == sorted(keyTable))
  }

  test("dim keys match the key table on the snapshot backend") {
    assert(loadAll(s"snapshot:${tmpDir("graft-dimkeys-snap")}") == sorted(keyTable))
  }

  test("dim keys match the key table on the JDBC (Derby) backend") {
    System.setProperty("derby.system.home", tmpDir("graft-dimkeys-derby").toString)
    assert(loadAll(s"jdbc:derby:${tmpDir("graft-dimkeys-jdbc")}/wh;create=true") ==
      sorted(keyTable))
  }

  /** Loads GSE_Z and GSE_M into `target`, fails a replace of GSE_M's
    * `dim_sample` rows part way (the new rows' plan throws), then
    * re-delivers both studies. Returns `dim_sample` and the fact count
    * before the failure and after the re-run.
    */
  private def failedReplaceThenReload(target: String) = {
    val root = tmpDir("graft-dimkeys")
    val filter = root.resolve("filter.tsv")
    Files.writeString(filter, filterTsv)
    val job = new EtlJob(spark, AppConfig(DatabaseConfig("unused"), ProcessingConfig(root, filter),
      LoggingConfig(logLevel = "WARN")), target)
    val dirs = Seq(
      study(root, "GSE_Z", Seq(("GSMz2", "40", "male", "GPL1", "Healthy"),
        ("GSMz1", "UNKNOWN", "female", "GPL2", "UNKNOWN")), Seq("ENSG_B", "ENSG_A")),
      study(root, "GSE_M", Seq(("GSMm1", "27", "female", "GPL2", "Ill"),
        ("GSMm0", "50", "male", "GPL1", "Healthy")), Seq("ENSG_A", "ENSG_C")))
    def load() = {
      val results = job.processUnioned(dirs)
      assert(results.forall(_.error.isEmpty), results.toString)
    }
    load()
    val wh = Warehouse(spark, target)
    def state() = (wh.read("dim_sample").collect().map(_.toString).sorted.toSeq,
      wh.read("fact_expression").count())
    val before = state()
    import org.apache.spark.sql.functions.{col, udf}
    val planted = udf((k: Long) => if (k > 0) throw new IllegalStateException("planted") else k)
    val m = wh.read("dim_study").where(col("gse_accession") === "GSE_M").head.getLong(0)
    intercept[Exception] {
      wh.replaceStudyPartitions("dim_sample", wh.readStudies("dim_sample", Seq(m))
        .withColumn("sample_key", planted(col("sample_key"))), Seq(m))
    }
    load()
    (before, state())
  }

  test("a failed dim_sample replace keeps a re-delivered study's sample keys (parquet)") {
    val dir = tmpDir("graft-dimkeys-wh")
    val (before, after) = failedReplaceThenReload(dir.toString)
    assert(before._1.size == 4 && before._2 == 8)
    assert(after == before)
    assert(!Files.list(dir).toArray.exists(_.toString.contains("__replace-")))
  }

  test("a failed dim_sample replace keeps a re-delivered study's sample keys (snapshot)") {
    val (before, after) = failedReplaceThenReload(s"snapshot:${tmpDir("graft-dimkeys-snap")}")
    assert(before._1.size == 4 && before._2 == 8)
    assert(after == before)
  }

  test("a failed dim_sample replace keeps a re-delivered study's sample keys (JDBC, Derby)") {
    System.setProperty("derby.system.home", tmpDir("graft-dimkeys-derby").toString)
    val (before, after) =
      failedReplaceThenReload(s"jdbc:derby:${tmpDir("graft-dimkeys-jdbc")}/wh;create=true")
    assert(before._1.size == 4 && before._2 == 8)
    assert(after == before)
  }

  test("new naturals are numbered in Spark's UTF-8 string order, not Java's UTF-16 order") {
    val labels = Seq(s"GPL$grin", s"GPL$fullA", "GPL2", " GPL2 ", "UNKNOWN", "")
    // Java's order puts the surrogate pair first
    assert(Seq(s"GPL$fullA", s"GPL$grin").sorted == Seq(s"GPL$grin", s"GPL$fullA"))
    val fresh = Dims.Known(Map("GPL2" -> 7L), 7L)
      .fresh(labels.flatMap(Dims.natural(_)))(Dims.SparkStringOrder)
    assert(fresh == Seq(s"GPL$fullA" -> 8L, s"GPL$grin" -> 9L))
    import spark.implicits._
    assert(labels.toDF("l").where($"l".startsWith("GPL")).distinct().orderBy("l")
      .as[String].collect().toSeq == Seq("GPL2", s"GPL$fullA", s"GPL$grin"))
  }
}
