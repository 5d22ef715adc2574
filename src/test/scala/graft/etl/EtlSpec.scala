package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Behavior tests mirroring the reference's pytest suite (SURVEY.md §5)
  * plus the §7.2 minimum end-to-end slice.
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._


  private def write(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.writeString(p, content); p
  }

  private val metadataTsv =
    """refinebio_accession_code	experiment_accession	refinebio_age	refinebio_sex	refinebio_platform	characteristics_ch2_illness
      |GSM1	GSE9006	16	female	GPL96	Healthy
      |GSM2	GSE9006		female	GPL96	Healthy
      |GSM3	GSE9006	25	male	GPL96	Diabetes
      |	GSE9006	1	male	GPL96	Healthy
      |GSM4	GSE_OTHER	30	male	GPL97	Diabetes
      |""".stripMargin

  // wide matrix: 3 genes x 4 samples (GSM4 column present; extra sample
  // column GSM9 not in metadata -> dropped by F2 only if metadata lacks
  // it; here metadata HAS GSM4 so only GSM9-like cases drop)
  private val expressionTsv =
    """gene	GSM1	GSM2	GSM3	GSM4
      |ENSG1	1.0	2.0	3.0	4.0
      |ENSG2	2.0	4.0	6.0	8.0
      |ENSG3	9.0	5.0	1.0	bad
      |ENSGX	1	1	1	1
      |
      |""".stripMargin

  private val filterTsv = "ensembl_id\nENSG1\nENSG2\nENSG3\n ENSG3 \n\n"

  private def makeStudy(root: Path, gse: String = "GSE9006",
      exprName: Option[String] = None): Path = {
    val d = Files.createDirectories(root.resolve(gse))
    write(d, s"metadata_$gse.tsv", metadataTsv)
    write(d, exprName.getOrElse(s"expression_$gse.tsv"), expressionTsv)
    d
  }

  private def config(root: Path, filter: Path): AppConfig = AppConfig(
    DatabaseConfig("unused"),
    ProcessingConfig(root, filter),
    LoggingConfig(logLevel = "WARN"))

  test("S1: discovery prefers expression_<GSE>.tsv, falls back to <GSE>.tsv") {
    val root = tmpDir("graft-etl")
    val d = makeStudy(root, "GSE1", exprName = Some("GSE1.tsv"))
    val files = StudyDiscovery.discoverStudyFiles(d)
    assert(files.studyAccession == "GSE1")
    assert(files.expressionFile.getFileName.toString == "GSE1.tsv")

    val d2 = makeStudy(root, "GSE2")
    assert(StudyDiscovery.discoverStudyFiles(d2)
      .expressionFile.getFileName.toString == "expression_GSE2.tsv")

    intercept[StudyProcessingError] {
      StudyDiscovery.discoverStudyFiles(Files.createDirectories(root.resolve("empty")))
    }
  }

  test("S3: metadata normalization — variant header, UNKNOWN substitution, blank-GSM skip") {
    val root = tmpDir("graft-etl")
    val p = write(root, "metadata_GSE9006.tsv", metadataTsv)
    val df = Metadata.load(spark, p.toString, FieldMappingConfig()).orderBy("gsm_accession")
    val rows = df.collect()
    assert(rows.length == 4) // blank-GSM row dropped
    val byGsm = rows.map(r => r.getAs[String]("gsm_accession") -> r).toMap
    // digit-stripped variant characteristics_ch2_illness matches
    // candidate characteristics_ch1_Illness (tests/test_metadata_processing.py:12-25)
    assert(byGsm("GSM1").getAs[String]("illness_label") == "Healthy")
    assert(byGsm("GSM3").getAs[String]("illness_label") == "Diabetes")
    // age present/blank -> UNKNOWN substitution (REQ-004)
    assert(byGsm("GSM1").getAs[String]("age") == "16")
    assert(byGsm("GSM2").getAs[String]("age") == "UNKNOWN")
    assert(byGsm("GSM1").getAs[String]("sex") == "female")
    assert(byGsm("GSM1").getAs[String]("platform_accession") == "GPL96")
  }

  test("S3: no matching headers -> all UNKNOWN (tests/test_metadata_processing.py:28-41)") {
    val root = tmpDir("graft-etl")
    val p = write(root, "metadata_X.tsv",
      "refinebio_accession_code\texperiment_accession\nGSM1\tGSEX\n")
    val r = Metadata.load(spark, p.toString, FieldMappingConfig()).head
    Seq("platform_accession", "illness_label", "age", "sex").foreach(c =>
      assert(r.getAs[String](c) == "UNKNOWN", c))
    // required-column enforcement
    val bad = write(root, "metadata_Y.tsv", "foo\tbar\n1\t2\n")
    intercept[MetadataFormatError] {
      Metadata.load(spark, bad.toString, FieldMappingConfig())
    }
  }

  test("S3: header cells are VERBATIM (spark.read.csv + reference parity) — " +
    "padded required header fails, padded optional resolves via tier-3") {
    val root = tmpDir("graft-etl")
    // a whitespace-padded REQUIRED header is NOT trimmed before the
    // required-column check: csv.DictReader keeps fieldnames untrimmed
    // and the reference's check is a verbatim set difference
    // (metadata_processing.py:118-123) — so this must fail, same as it
    // would against the reference
    val padReq = write(root, "metadata_PADREQ.tsv",
      " refinebio_accession_code \texperiment_accession\nGSM1\tGSEX\n")
    intercept[MetadataFormatError] {
      Metadata.load(spark, padReq.toString, FieldMappingConfig())
    }
    // a padded OPTIONAL header still resolves: tier-3 normalization
    // (digit-strip + trim + lowercase, _normalize_header:58 parity)
    // absorbs the padding without mutating the stored header itself
    val padOpt = write(root, "metadata_PADOPT.tsv",
      "refinebio_accession_code\texperiment_accession\t refinebio_age \nGSM1\tGSEX\t42\n")
    val r = Metadata.load(spark, padOpt.toString, FieldMappingConfig()).head
    assert(r.getAs[String]("age") == "42")
  }

  test("S4/R1/F2-F4: melt drops missing sample columns, blank genes, bad numerics") {
    val root = tmpDir("graft-etl")
    val p = write(root, "expression_G.tsv", expressionTsv)
    // GSM5 expected but absent -> warn+drop; GSM1-3 kept
    val out = ExpressionMatrix.load(spark, p.toString, Seq("GSM1", "GSM2", "GSM3", "GSM5"))
    val rows = out.collect()
    // 4 genes x 3 kept samples = 12, minus nothing (bad value was GSM4)
    assert(rows.length == 12)
    assert(out.where($"sample_accession" === "GSM5").count() == 0)
    // bad numeric dropped (F4): full load with GSM4 yields 15 not 16
    val full = ExpressionMatrix.load(spark, p.toString, Seq("GSM1", "GSM2", "GSM3", "GSM4"))
    assert(full.count() == 15)
    intercept[ExpressionFormatError] {
      ExpressionMatrix.load(spark, p.toString, Seq("GSM7"))
    }
    val badHeader = write(root, "expression_B.tsv", "notgene\tGSM1\nENSG1\t1.0\n")
    intercept[ExpressionFormatError] {
      ExpressionMatrix.load(spark, badHeader.toString, Seq("GSM1"))
    }
  }

  test("S2: gene filter loads, trims, dedups, errors on empty") {
    val root = tmpDir("graft-etl")
    val p = write(root, "filter.tsv", filterTsv)
    assert(GeneFilter.ids(spark, p.toString).sorted == Seq("ENSG1", "ENSG2", "ENSG3"))
    val noCol = write(root, "f2.tsv", "wrong\nx\n")
    intercept[GeneFilterError] { GeneFilter.ids(spark, noCol.toString) }
    val empty = write(root, "f3.tsv", "ensembl_id\n\n  \n")
    intercept[GeneFilterError] { GeneFilter.ids(spark, empty.toString) }
    // CSV quoting as spark.read parses it; the id column need not be first
    val quoted = write(root, "f4.tsv",
      "symbol\tensembl_id\nA\t\"ENSG9\"\nB\t\" ENSG1 \"\nC\t\"\"\nD\n")
    assert(GeneFilter.ids(spark, quoted.toString).sorted ==
      Seq("ENSG1", "ENSG9"))
    // a compressed whitelist decompresses through its codec
    val gz = root.resolve("filter.tsv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(filterTsv.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    assert(GeneFilter.ids(spark, gz.toString).sorted ==
      Seq("ENSG1", "ENSG2", "ENSG3"))
  }

  /** The keys `existing` (a dim_sample frame) lacks for `pairs`. */
  private def freshSamples(existing: org.apache.spark.sql.DataFrame,
      pairs: Seq[(String, Long)]): Seq[((String, Long), Long)] = {
    val rows = existing.collect()
    Dims.Known(rows.map(r => (r.getAs[String]("gsm_accession"), r.getAs[Long]("study_key")) ->
      r.getAs[Long]("sample_key")).toMap,
      (0L +: rows.map(_.getAs[Long]("sample_key")).toSeq).max).fresh(pairs)(Dims.SampleOrder)
  }

  test("D1/D2: dim upsert is idempotent with deterministic keys") {
    val wh = Warehouse(spark, tmpDir("graft-etl").toString)
    assert(wh.read("dim_platform").count() == 0)
    val d1 = Dims.Known(Map.empty[String, Long], 0L).fresh(
      Seq("GPL97", "GPL96", "GPL96", "UNKNOWN", " ").flatMap(Dims.natural(_)))(Dims.SparkStringOrder)
      .map(_.swap)
    assert(d1 == Seq((1L, "GPL96"), (2L, "GPL97"))) // sorted naturals, UNKNOWN/blank excluded
    // re-upsert: no new keys
    val d2 = d1 ++ Dims.Known(d1.map(_.swap).toMap, 2L).fresh(
      Seq("GPL96", "GPL98").flatMap(Dims.natural(_)))(Dims.SparkStringOrder).map(_.swap)
    assert(d2 == Seq((1L, "GPL96"), (2L, "GPL97"), (3L, "GPL98")))
  }

  test("D3: sample upsert conditional update (tests/test_repositories.py:28-64)") {
    val wh = Warehouse(spark, tmpDir("graft-etl").toString)
    def inc(rows: Seq[(String, Long, Option[Long], Option[Long], String, String, Long)]) =
      rows.toDF("gsm_accession", "study_key", "platform_key", "illness_key", "age", "sex", "__ord")
    def upsert(existing: org.apache.spark.sql.DataFrame,
        rows: Seq[(String, Long, Option[Long], Option[Long], String, String, Long)]) =
      Dims.upsertSampleDim(existing, inc(rows), freshSamples(existing, rows.map(r => (r._1, r._2))))
    // first batch: UNKNOWN age, platform set
    val s1 = upsert(wh.read("dim_sample"),
      Seq(("GSM1", 1L, Some(1L), None, "UNKNOWN", "female", 0L)))
    val r1 = s1.head
    assert(r1.getAs[Long]("sample_key") == 1L)
    assert(r1.getAs[String]("age") == "UNKNOWN")
    // second batch: fills UNKNOWN age, does NOT overwrite known sex,
    // updates platform to new non-null value
    val s2 = upsert(s1,
      Seq(("GSM1", 1L, Some(2L), Some(5L), "33", "male", 0L)))
    val r2 = s2.head
    assert(r2.getAs[Long]("sample_key") == 1L) // key stable
    assert(r2.getAs[String]("age") == "33")    // UNKNOWN filled
    assert(r2.getAs[String]("sex") == "female") // known NOT overwritten
    assert(r2.getAs[Long]("platform_key") == 2L) // platform updated
    assert(r2.getAs[Long]("illness_key") == 5L)
    // new sample in second study gets next key
    val s3 = upsert(s2,
      Seq(("GSM1", 2L, None, None, "40", "male", 0L)))
    assert(s3.count() == 2)
    assert(s3.where($"study_key" === 2L).head.getAs[Long]("sample_key") == 2L)
  }

  test("E2E slice (SURVEY §7.2): ETL + correlation job, idempotent re-run, stale replace") {
    val root = tmpDir("graft-etl")
    makeStudy(root)
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    val cfg = config(root, filter)

    val job = new EtlJob(spark, cfg, whDir)
    val results = job.run()
    assert(results.length == 1 && results.head.error.isEmpty)
    assert(results.head.samples == 4)
    // facts: genes ENSG1-3 (ENSGX filtered), samples GSM1-4;
    // ENSG3/GSM4 cell is "bad" -> dropped => 3*4 - 1 = 11
    assert(results.head.facts == 11)

    val wh = Warehouse(spark, whDir)
    assert(wh.read("dim_study").count() == 1)
    assert(wh.read("dim_gene").count() == 3)
    assert(wh.read("dim_platform").count() == 2)  // GPL96, GPL97
    assert(wh.read("dim_illness").count() == 2)   // Healthy, Diabetes
    assert(wh.read("dim_sample").count() == 4)

    // idempotent re-run: zero new facts (J7 anti-join dedup, REQ-005)
    val rerun = job.run()
    assert(rerun.head.facts == 0)
    assert(wh.read("fact_expression").count() == 11)

    // correlation job
    val corrJob = new CorrelationJob(spark, whDir)
    val summary = corrJob.run()
    assert(summary.studies == Seq("GSE9006"))
    assert(summary.pairs == 3) // C(3,2)
    val corr = wh.read("fact_gene_pair_corr").orderBy("gene_a_key", "gene_b_key").collect()
    assert(corr.length == 3)
    corr.foreach { r =>
      assert(r.getAs[Long]("gene_a_key") < r.getAs[Long]("gene_b_key")) // O4
      assert(r.isNullAt(r.fieldIndex("illness_key")))
      val rho = r.getAs[Double]("rho_spearman")
      assert(rho >= -1.0 && rho <= 1.0)
      val p = r.getAs[Double]("p_value")
      assert(p >= 0.0 && p <= 1.0)
    }
    // ENSG1 vs ENSG2 monotone up over shared samples -> rho 1
    val k = wh.read("dim_gene").orderBy("gene_key").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    val byPair = corr.map(r => (r.getAs[Long]("gene_a_key"), r.getAs[Long]("gene_b_key")) -> r).toMap
    val r12 = byPair((k("ENSG1"), k("ENSG2")))
    assert(math.abs(r12.getAs[Double]("rho_spearman") - 1.0) < 1e-12)
    assert(r12.getAs[Long]("n_samples") == 4)
    // ENSG1 vs ENSG3 shares 3 samples (bad cell dropped), monotone down
    val r13 = byPair((k("ENSG1"), k("ENSG3")))
    assert(r13.getAs[Long]("n_samples") == 3)
    assert(math.abs(r13.getAs[Double]("rho_spearman") + 1.0) < 1e-12)

    // stale-replace (S7): re-run correlation -> still 3 rows, new stamp
    val summary2 = corrJob.run()
    assert(summary2.pairs == 3)
    assert(wh.read("fact_gene_pair_corr").count() == 3)
  }

  test("golden: requirements-doc metadata example normalizes exactly " +
      "(docs/genomic-etl-requirements.md:453-459)") {
    val root = tmpDir("graft-etl")
    val p = write(root, "metadata_GSE9006.tsv",
      """refinebio_accession_code	experiment_accession	refinebio_age	refinebio_sex	refinebio_platform	characteristics_ch1_Age	characteristics_ch1_Sex	characteristics_ch1_Illness
        |GSM228562	GSE9006	16	female	GPL96	16 yrs	F	Healthy
        |GSM228563	GSE9006		female	GPL96	16 yrs	F	Healthy
        |GSM228564	GSE9006	25	male	GPL96	25 yrs	M	UNKNOWN
        |""".stripMargin)
    val out = Metadata.load(spark, p.toString, FieldMappingConfig())
      .orderBy("gsm_accession").collect()
      .map(r => r.getAs[String]("gsm_accession") ->
        ((r.getAs[String]("age"), r.getAs[String]("sex"),
          r.getAs[String]("platform_accession"), r.getAs[String]("illness_label")))).toMap
    assert(out("GSM228562") == (("16", "female", "GPL96", "Healthy")))
    // blank refinebio_age: the exact-match candidate fails for this ROW
    // and resolution falls through to the next candidate header
    // (characteristics_ch1_Age), exactly like _first_non_empty
    // (reference metadata_processing.py:60-102)
    assert(out("GSM228563") == (("16 yrs", "female", "GPL96", "Healthy")))
    // an explicit "UNKNOWN" cell is a VALUE here (F8 maps it to a null
    // FK later, at dim resolution - not at normalization)
    assert(out("GSM228564") == (("25", "male", "GPL96", "UNKNOWN")))
  }

  test("correlation: mixed complete/incomplete studies in one run exercises both Spearman paths") {
    val root = tmpDir("graft-etl")
    makeStudy(root) // GSE9006: bad cell -> incomplete matrix -> exact path
    val d = Files.createDirectories(root.resolve("GSE0002"))
    write(d, "metadata_GSE0002.tsv",
      metadataTsv.replace("GSE9006", "GSE0002").replace("GSE_OTHER", "GSE0002"))
    write(d, "expression_GSE0002.tsv", // complete 3x4 matrix -> dense path
      "gene\tGSM1\tGSM2\tGSM3\tGSM4\n" +
        "ENSG1\t1.0\t2.0\t3.0\t4.0\n" +
        "ENSG2\t2.0\t4.0\t6.0\t8.0\n" +
        "ENSG3\t9.0\t5.0\t1.0\t0.5\n")
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    val results = new EtlJob(spark, config(root, filter), whDir).run()
    assert(results.forall(_.error.isEmpty))

    val summary = new CorrelationJob(spark, whDir).run()
    assert(summary.studies.toSet == Set("GSE9006", "GSE0002"))
    assert(summary.pairs == 6) // C(3,2) per study

    val wh = Warehouse(spark, whDir)
    val studyKeys = wh.read("dim_study").collect()
      .map(r => r.getAs[String]("gse_accession") -> r.getAs[Long]("study_key")).toMap
    val geneKeys = wh.read("dim_gene").collect()
      .map(r => r.getAs[String]("ensembl_id") -> r.getAs[Long]("gene_key")).toMap
    val corr = wh.read("fact_gene_pair_corr").collect()
      .groupBy(_.getAs[Number]("study_key").longValue())
    assert(corr(studyKeys("GSE9006")).length == 3)
    assert(corr(studyKeys("GSE0002")).length == 3)

    def pair(study: String, a: String, b: String) =
      corr(studyKeys(study)).find(r =>
        r.getAs[Long]("gene_a_key") == geneKeys(a) &&
          r.getAs[Long]("gene_b_key") == geneKeys(b)).get
    // identical ENSG1/ENSG2 values in both studies -> identical pair
    // stats from the two different paths
    val sparse12 = pair("GSE9006", "ENSG1", "ENSG2")
    val dense12 = pair("GSE0002", "ENSG1", "ENSG2")
    assert(sparse12.getAs[Long]("n_samples") == 4 && dense12.getAs[Long]("n_samples") == 4)
    assert(math.abs(sparse12.getAs[Double]("rho_spearman") - 1.0) < 1e-12)
    assert(math.abs(dense12.getAs[Double]("rho_spearman") - 1.0) < 1e-12)
    assert(sparse12.getAs[Double]("p_value") == dense12.getAs[Double]("p_value"))
    // complete study's ENSG1/ENSG3 strictly decreasing over all 4 samples
    val dense13 = pair("GSE0002", "ENSG1", "ENSG3")
    assert(dense13.getAs[Long]("n_samples") == 4)
    assert(math.abs(dense13.getAs[Double]("rho_spearman") + 1.0) < 1e-12)
    // incomplete study's ENSG1/ENSG3 only shares 3 samples
    assert(pair("GSE9006", "ENSG1", "ENSG3").getAs[Long]("n_samples") == 3)
  }

  test("n=2 edge (tests/test_correlation.py:69-85): pair kept, p stored 1.0, q null") {
    val root = tmpDir("graft-etl")
    val d = Files.createDirectories(root.resolve("GSE0003"))
    write(d, "metadata_GSE0003.tsv",
      """refinebio_accession_code	experiment_accession
        |GSM1	GSE0003
        |GSM2	GSE0003
        |""".stripMargin)
    write(d, "expression_GSE0003.tsv",
      "gene\tGSM1\tGSM2\nENSG1\t1.0\t2.0\nENSG2\t5.0\t3.0\n")
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    new EtlJob(spark, config(root, filter), whDir).run()
    new CorrelationJob(spark, whDir).run()

    val corr = Warehouse(spark, whDir).read("fact_gene_pair_corr").collect()
    assert(corr.length == 1) // n = 2 >= MIN_SAMPLES_FOR_CORRELATION
    val r = corr.head
    assert(r.getAs[Long]("n_samples") == 2)
    assert(math.abs(r.getAs[Double]("rho_spearman") + 1.0) < 1e-12) // opposite monotone
    // |rho| >= 1 would give p = 0.0 per C3... but n < 3 takes priority:
    // p is NaN/null in compute, stored as 1.0 (C4 persist policy)
    assert(r.getAs[Double]("p_value") == 1.0)
    assert(r.isNullAt(r.fieldIndex("q_value")))
  }

  test("X1: the batched load isolates a bad study; a re-run adds no facts") {
    val root = tmpDir("graft-etl")
    makeStudy(root) // GSE9006 (incomplete matrix + messy metadata)
    val d = Files.createDirectories(root.resolve("GSE0002"))
    write(d, "metadata_GSE0002.tsv",
      metadataTsv.replace("GSE9006", "GSE0002").replace("GSE_OTHER", "GSE0002"))
    write(d, "expression_GSE0002.tsv",
      "gene\tGSM1\tGSM2\tGSM3\tGSM4\nENSG1\t1.0\t2.0\t3.0\t4.0\nENSG2\t2.0\t4.0\t6.0\t8.0\n")
    // a broken study must fail without hurting the others
    val bad = Files.createDirectories(root.resolve("GSEBAD"))
    write(bad, "metadata_GSEBAD.tsv", "wrong\tcols\nx\ty\n")
    write(bad, "expression_GSEBAD.tsv", "gene\tGSMX\nENSG1\t1\n")
    val filter = write(root, "filter.tsv", filterTsv)

    val whDir = tmpDir("graft-etl").toString
    val results = new EtlJob(spark, config(root, filter), whDir).run()
    // GSE0002: 2 genes x 4 samples; GSE9006: 3 x 4 minus the bad cell
    assert(results.map(r => (r.accession, r.samples, r.facts, r.error.isDefined)) == Seq(
      ("GSE0002", 4L, 8L, false), ("GSE9006", 4L, 11L, false), ("GSEBAD", 0L, 0L, true)))

    def factTuples() = {
      val wh = Warehouse(spark, whDir)
      wh.read("fact_expression")
        .join(wh.read("dim_sample")
          .select("sample_key", "gsm_accession", "age", "sex"), "sample_key")
        .join(wh.read("dim_gene"), "gene_key")
        .join(wh.read("dim_study"), "study_key")
        .select("gse_accession", "gsm_accession", "ensembl_id", "expression_value",
          "age", "sex")
        .collect().map(_.toSeq).toSet
    }
    assert(factTuples().size == 19)

    // idempotent re-run (J7 holds across the batch)
    val rerun = new EtlJob(spark, config(root, filter), whDir).run()
    assert(rerun.filter(_.error.isEmpty).forall(_.facts == 0))
    assert(factTuples().size == Warehouse(spark, whDir)
      .read("fact_expression").count().toInt)
  }

  test("F7: the load's J7 anti-join scans only the batch's study_key partitions") {
    val root = tmpDir("graft-etl")
    val first = makeStudy(root, "GSE0001")
    val second = makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    val job = new EtlJob(spark, config(root, filter), whDir)
    assert(job.processUnioned(Seq(first)).forall(_.error.isEmpty))

    // the second load runs against a fact table that already holds a
    // partition; every plan it executes is captured
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val lenKey = "spark.sql.maxMetadataStringLength" // keep scan paths unabbreviated
    val prevLen = spark.conf.getOption(lenKey)
    spark.conf.set(lenKey, "10000")
    spark.listenerManager.register(listener)
    try {
      assert(job.processUnioned(Seq(second)).map(_.facts) == Seq(11L))
      // listener events arrive asynchronously: wait for the fact scan
      def factScans = plans.toArray(Array.empty[String]).toSeq
        .flatMap(_.linesIterator).filter(l => l.contains("FileScan") &&
          l.contains(s"$whDir/fact_expression"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (factScans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(factScans.nonEmpty, s"no fact_expression scan captured:\n${plans.toArray.mkString("\n")}")
      factScans.foreach { l =>
        val partitionFilters = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(l).getOrElse("")
        assert(partitionFilters.contains("study_key"),
          s"fact_expression scan is not pruned to the batch's studies:\n$l")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      prevLen match {
        case Some(v) => spark.conf.set(lenKey, v)
        case None => spark.conf.unset(lenKey)
      }
    }
  }

  /** Runs `body` and returns its result with every SQL execution it
    * ran, as seen by a QueryExecutionListener. Listener events arrive
    * asynchronously but in order, so a sentinel query run afterwards
    * marks the point by which all of `body`'s events were delivered.
    */
  private def withExecutions[T](body: => T)
      : (T, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { seen.add(qe); () }
    }
    val marker = s"sentinel-${java.util.UUID.randomUUID()}"
    def isSentinel(qe: QueryExecution) = qe.analyzed.toString.contains(marker)
    spark.listenerManager.register(listener)
    try {
      val result = body
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.toArray(Array.empty[QueryExecution]).exists(isSentinel) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val all = seen.toArray(Array.empty[QueryExecution]).toSeq
      assert(all.exists(isSentinel), "listener never delivered the sentinel query")
      (result, all.filterNot(isSentinel))
    } finally spark.listenerManager.unregister(listener)
  }

  test("F7: correlate's target-study probe reads only the requested studies' fact partitions") {
    val root = tmpDir("graft-etl")
    Seq("GSE0001", "GSE0002", "GSE0003").foreach(makeStudy(root, _))
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    assert(new EtlJob(spark, config(root, filter), whDir).run().forall(_.error.isEmpty))

    // targets resolve through the per-study shape aggregate over the
    // requested studies' facts: every fact scan correlate runs, that
    // aggregate's included, must be pruned to the two named studies
    val (summary, executions) = withExecutions(
      new CorrelationJob(spark, whDir).run(Seq("GSE0001", "GSE0003", "GSE_NONE")))
    assert(summary.studies == Seq("GSE0001", "GSE0003"))
    import org.apache.spark.sql.catalyst.expressions.{Attribute, In, InSet}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def scansOf(table: String)(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(table)) => s
      }
    val factScans = scansOf("fact_expression") _
    val scans = executions.flatMap(factScans)
    assert(scans.nonEmpty, executions.map(_.executedPlan).mkString("\n"))
    // the target-resolving query: an aggregate over a fact scan
    assert(executions.exists(qe => factScans(qe).nonEmpty &&
      helper.collect(qe.executedPlan) { case a: BaseAggregateExec => a }.nonEmpty),
      "no fact-scanning aggregate among correlate's executions")
    // the samples the facts join to are read the same way (dim_sample
    // is partitioned by study_key too)
    val sampleScans = executions.flatMap(scansOf("dim_sample"))
    assert(sampleScans.nonEmpty, executions.map(_.executedPlan).mkString("\n"))
    (scans ++ sampleScans).foreach { s =>
      // isnotnull(study_key) names the column too, so require the IN list
      assert(s.partitionFilters.exists(_.exists {
        case In(a: Attribute, _) => a.name == "study_key"
        case InSet(a: Attribute, _) => a.name == "study_key"
        case _ => false
      }), s"${s.relation.location.rootPaths.mkString} scan is not pruned to the " +
        s"requested studies: ${s.partitionFilters}")
      assert(s.metrics("numPartitions").value == 2L)
    }
  }

  test("correlate: a 2-study run takes at most 5 SQL executions; its pair count is the rows it wrote") {
    val root = tmpDir("graft-etl")
    Seq("GSE0001", "GSE0002", "GSE0003").foreach(makeStudy(root, _))
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    assert(new EtlJob(spark, config(root, filter), whDir).run().forall(_.error.isEmpty))
    val job = new CorrelationJob(spark, whDir)
    val wh = Warehouse(spark, whDir)
    def written(accs: Seq[String]) = wh.read("fact_gene_pair_corr")
      .join(wh.read("dim_study").where(col("gse_accession").isin(accs: _*)), "study_key")
      .count()

    val (summary, executions) = withExecutions(job.run(Seq("GSE0001", "GSE0002")))
    assert(summary.studies == Seq("GSE0001", "GSE0002"))
    assert(executions.size <= 5,
      s"${executions.size} SQL executions:\n${executions.map(_.analyzed.nodeName).mkString("\n")}")
    assert(summary.pairs == 6) // C(3,2) per study
    assert(summary.pairs == written(summary.studies))
    // a full run reports every target's rows, the earlier ones replaced
    val all = job.run()
    assert(all.studies == Seq("GSE0001", "GSE0002", "GSE0003"))
    assert(all.pairs == 9 && all.pairs == written(all.studies))
    assert(wh.read("fact_gene_pair_corr").count() == 9)
  }

  test("load: per-study fact counts equal the rows each study added; a full re-run reports 0") {
    val root = tmpDir("graft-etl")
    makeStudy(root, "GSE0001")
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    val wh = Warehouse(spark, whDir)
    def perStudy(): Map[String, Long] = wh.read("fact_expression")
      .join(wh.read("dim_study"), "study_key").groupBy("gse_accession").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(new EtlJob(spark, config(root, filter), whDir).run().map(r => (r.accession, r.facts)) ==
      Seq(("GSE0001", 11L)))
    val before = perStudy()
    assert(before == Map("GSE0001" -> 11L))

    // GSE0001 re-delivered with its bad cell fixed (one new fact) beside
    // a new study: each study's reported count is exactly its delta
    write(root.resolve("GSE0001"), "expression_GSE0001.tsv",
      expressionTsv.replace("\tbad", "\t7.0"))
    makeStudy(root, "GSE0002")
    val second = new EtlJob(spark, config(root, filter), whDir).run()
    val after = perStudy()
    assert(second.map(r => (r.accession, r.facts)) == Seq(("GSE0001", 1L), ("GSE0002", 11L)))
    second.foreach(r =>
      assert(r.facts == after(r.accession) - before.getOrElse(r.accession, 0L), r.accession))

    // a plain re-run (no resume) where every fact already exists appends
    // nothing: the observed count must still arrive, as 0, not block
    import scala.concurrent.ExecutionContext.Implicits.global
    val rerun = scala.concurrent.Await.result(scala.concurrent.Future(
      new EtlJob(spark, config(root, filter), whDir).run(resume = false)),
      scala.concurrent.duration.Duration(120, "s"))
    assert(rerun.map(r => (r.accession, r.facts, r.error)) ==
      Seq(("GSE0001", 0L, None), ("GSE0002", 0L, None)))
    assert(perStudy() == after)
  }

  test("load: 2 new studies into a loaded warehouse take at most 12 SQL executions") {
    val root = tmpDir("graft-etl")
    // the loaded study lacks ENSG3, the new ones bring new platforms and
    // illnesses: every one of the five dims gets rows
    val first = makeStudy(root, "GSE0001")
    write(first, "expression_GSE0001.tsv", expressionTsv.replace("ENSG3\t9.0\t5.0\t1.0\tbad\n", ""))
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    val job = new EtlJob(spark, config(root, filter), whDir)
    assert(job.run().map(r => (r.accession, r.facts)) == Seq(("GSE0001", 8L)))
    val fresh = Seq("GSE0002", "GSE0003").map { gse =>
      val d = makeStudy(root, gse)
      write(d, s"metadata_$gse.tsv", metadataTsv.replace("GPL9", s"GPL$gse-").replace("Healthy", gse))
      d
    }
    val (results, executions) = withExecutions(job.processUnioned(fresh))
    assert(results.map(r => (r.accession, r.facts, r.error)) ==
      Seq(("GSE0002", 11L, None), ("GSE0003", 11L, None)))
    val wh = Warehouse(spark, whDir)
    assert(Seq("dim_study", "dim_platform", "dim_illness", "dim_gene", "dim_sample")
      .map(wh.read(_).count()) == Seq(3L, 6L, 4L, 3L, 12L))
    // 2 preps, 1 dim lookup, 5 dim writes, 2 state writes, 1 fact append
    assert(executions.size <= 12, s"${executions.size} SQL executions:\n" +
      executions.map(_.executedPlan.treeString.linesIterator.take(3).mkString("\n")).mkString("\n--\n"))
  }

  test("load: a drain writes the same dim bytes whether 2 or 20 studies were loaded before") {
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    /** Bytes the drain of one new study writes to the five dims, after
      * a load of `n` studies.
      */
    def dimBytes(n: Int): Long = {
      val root = tmpDir("graft-etl")
      val filter = write(root, "filter.tsv", filterTsv)
      val whDir = tmpDir("graft-etl").toString
      val job = new EtlJob(spark, config(root, filter), whDir)
      assert(job.processUnioned((1 to n).map(i => makeStudy(root, f"GSE1$i%03d")))
        .forall(_.error.isEmpty))
      val last = makeStudy(root, "GSE9999")
      write(last, "metadata_GSE9999.tsv", metadataTsv.replace("GPL96", "GPL999"))
      val (results, executions) = withExecutions(job.processUnioned(Seq(last)))
      assert(results.map(r => (r.accession, r.facts)) == Seq(("GSE9999", 11L)))
      val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val writes = executions.flatMap(qe => helper.collect(qe.executedPlan) {
        case d @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
            if c.outputPath.getName.startsWith("dim_") =>
          // a replace writes to a stage beside its table
          c.outputPath.getName.split("__replace-").head -> d.metrics("numOutputBytes").value
      })
      // dim_study, dim_platform and dim_sample get rows; dim_illness and
      // dim_gene have none to add
      assert(writes.map(_._1).sorted == Seq("dim_platform", "dim_sample", "dim_study"),
        writes.toString)
      writes.map(_._2).sum
    }
    val (few, many) = (dimBytes(2), dimBytes(20))
    assert(few > 0 && few == many, s"dim bytes after 2 studies: $few, after 20: $many")
  }

  test("intra-batch duplicate gene rows collapse to one fact (reference seen-set parity)") {
    val root = tmpDir("graft-etl")
    val d = Files.createDirectories(root.resolve("GSE0004"))
    write(d, "metadata_GSE0004.tsv",
      "refinebio_accession_code\texperiment_accession\nGSM1\tGSE0004\nGSM2\tGSE0004\n")
    write(d, "expression_GSE0004.tsv",
      "gene\tGSM1\tGSM2\nENSG1\t1.0\t2.0\nENSG1\t9.0\t9.0\nENSG2\t3.0\t4.0\n")
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    val res = new EtlJob(spark, config(root, filter), whDir).run()
    assert(res.head.error.isEmpty)
    assert(res.head.facts == 4) // 2 genes x 2 samples, not 6
    assert(Warehouse(spark, whDir).read("fact_expression").count() == 4)
  }

  test("warehouse: the tables that refer to a study are partitioned by study_key, dim_study is not") {
    assert(Warehouse.schemas.keys.filter(Warehouse.partitionedByStudy).toSet ==
      Set("fact_expression", "fact_gene_pair_corr", "dim_sample"))
    val whDir = tmpDir("graft-etl").toString
    val wh = Warehouse(spark, whDir)
    wh.append("dim_study", Seq((1L, "GSE1"), (2L, "GSE2")).toDF("study_key", "gse_accession"))
    wh.append("dim_sample", Seq((1L, "GSM1", 2L, None: Option[Long], None: Option[Long], "1", "f"))
      .toDF(Warehouse.schemas("dim_sample").fieldNames.toIndexedSeq: _*))
    val dirs = Files.list(java.nio.file.Paths.get(whDir, "dim_sample")).toArray.map(_.toString)
    assert(dirs.exists(_.endsWith("study_key=2")), dirs.mkString(", "))
    assert(!Files.list(java.nio.file.Paths.get(whDir, "dim_study")).toArray
      .exists(_.toString.contains("study_key=")))
    // reads keep the declared column order on every table
    assert(wh.read("dim_sample").columns.toSeq == Warehouse.schemas("dim_sample").fieldNames.toSeq)
  }

  test("warehouse: empty partitioned append leaves the table readable; empty replace deletes stale partitions") {
    val whDir = tmpDir("graft-etl").toString
    val wh = Warehouse(spark, whDir)
    val schema = Warehouse.schemas("fact_gene_pair_corr")
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

    // a zero-row partitioned append writes no parquet files — the read
    // must still work (declared schema, not inference)
    wh.append("fact_gene_pair_corr", empty)
    assert(wh.read("fact_gene_pair_corr").count() == 0)
    assert(wh.read("fact_gene_pair_corr").schema("study_key").dataType ==
      org.apache.spark.sql.types.LongType)

    // stale rows of a re-run study must vanish even when the new
    // result is empty (reference delete-then-insert semantics)
    import spark.implicits._
    val rows = Seq((1L, 2L, None: Option[Long], 0.5, 0.1, Some(0.2), 3L, "t", 7L))
      .toDF(schema.fieldNames: _*)
    wh.replaceStudyPartitions("fact_gene_pair_corr", rows, Seq(7L))
    assert(wh.read("fact_gene_pair_corr").count() == 1)
    wh.replaceStudyPartitions("fact_gene_pair_corr", empty, Seq(7L))
    assert(wh.read("fact_gene_pair_corr").count() == 0)
  }

  test("warehouse: a parquet replace cut after its commit point is rolled forward by the next read") {
    val whDir = tmpDir("graft-etl")
    val wh = new ParquetWarehouse(spark, whDir.toString)
    val schema = Warehouse.schemas("fact_gene_pair_corr")
    def rows(study: Long, rho: Double*) = rho.zipWithIndex.map { case (r, i) =>
      (i.toLong, i + 1L, None: Option[Long], r, 0.1, Some(0.2), 3L, "t", study) }
      .toDF(schema.fieldNames.toIndexedSeq: _*)
    def rhos() = wh.read("fact_gene_pair_corr").select("study_key", "rho_spearman").as[(Long, Double)]
      .collect().sorted.toSeq
    def stages() = Files.list(whDir).toArray.map(_.toString).filter(_.contains("__replace-")).toSeq
    wh.append("fact_gene_pair_corr", rows(7L, 0.1, 0.2).unionByName(rows(8L, 0.3)))
    wh.append("fact_gene_pair_corr", rows(9L, 0.4))

    // the cut: the stage is committed, study 7's old files are deleted
    // (the roll-forward's first step), no new file is in place yet
    wh.stageReplace("fact_gene_pair_corr", rows(7L, 0.5), Seq(7L, 8L))
    Files.list(whDir.resolve("fact_gene_pair_corr/study_key=7")).toArray
      .map(_.asInstanceOf[Path]).foreach(Files.delete)
    assert(stages().size == 1)
    val reopened = new ParquetWarehouse(spark, whDir.toString)
    assert(reopened.read("fact_gene_pair_corr").select("study_key", "rho_spearman")
      .as[(Long, Double)].collect().sorted.toSeq == Seq(7L -> 0.5, 9L -> 0.4))
    assert(stages().isEmpty)
    assert(!Files.exists(whDir.resolve("fact_gene_pair_corr/study_key=8")))

    // a stage cut before its commit point is never read, and the next
    // replace drops it
    wh.stageReplace("fact_gene_pair_corr", rows(7L, 0.6), Seq(7L))
    stages().foreach(d => Files.delete(java.nio.file.Paths.get(d, "_replaces")))
    assert(rhos() == Seq(7L -> 0.5, 9L -> 0.4))
    wh.replaceStudyPartitions("fact_gene_pair_corr", rows(9L, 0.7, 0.8), Seq(9L))
    assert(rhos() == Seq(7L -> 0.5, 9L -> 0.7, 9L -> 0.8))
    assert(stages().isEmpty)
  }

  test("warehouse: a flat dim_sample written before it was partitioned fails its first write") {
    val whDir = tmpDir("graft-etl").toString
    val row = Seq((1L, "GSM1", 2L, None: Option[Long], None: Option[Long], "1", "f"))
      .toDF(Warehouse.schemas("dim_sample").fieldNames.toIndexedSeq: _*)
    row.write.parquet(s"$whDir/dim_sample")
    val wh = Warehouse(spark, whDir)
    Seq[() => Unit](() => wh.append("dim_sample", row),
      () => wh.replaceStudyPartitions("dim_sample", row, Seq(2L))).foreach { write =>
      val e = intercept[IllegalStateException](write())
      assert(e.getMessage.contains("Reload the warehouse"), e.getMessage)
    }
    assert(!Files.list(java.nio.file.Paths.get(whDir, "dim_sample")).toArray
      .exists(_.toString.contains("study_key=")))
    assert(wh.read("dim_sample").count() == 1)
  }

  test("S3: duplicated header cells rename with position suffixes; tier-3 matching still resolves the field") {
    val root = tmpDir("graft-etl")
    // wide GEO/refinebio exports repeat characteristic columns; the
    // CSV-reader path auto-renamed duplicates and the ordinal path
    // must match: refinebio_age appears twice -> refinebio_age2/_age3,
    // the exact candidate misses, and the digit-stripped rule matches
    // both in column order (blank first occurrence falls through)
    val p = write(root, "metadata_DUP.tsv",
      "refinebio_accession_code\texperiment_accession\trefinebio_age\trefinebio_age\n" +
        "GSM1\tGSED\t\t42\n")
    val r = Metadata.load(spark, p.toString, FieldMappingConfig()).head
    assert(r.getAs[String]("age") == "42")
    assert(r.getAs[String]("gsm_accession") == "GSM1")
  }

  test("__ord is FILE order: multi-file metadata where path order ≠ size order resolves duplicate GSMs first-file-wins") {
    val root = tmpDir("graft-etl")
    val metaDir = Files.createDirectories(root.resolve("meta"))
    val header = "refinebio_accession_code\texperiment_accession\trefinebio_age\trefinebio_sex"
    // a_: lexically FIRST but much SMALLER — a size-packed scan (what
    // monotonically_increasing_id ordered by) would put b_'s split
    // first and flip the winner
    write(metaDir, "a_meta.tsv",
      s"$header\nGSMDUP\tGSEX\t11\tfemale\n")
    val bulk = (1 to 2000).map(i => s"GSMF$i\tGSEX\t$i\tmale").mkString("\n")
    write(metaDir, "b_meta.tsv",
      s"$header\nGSMDUP\tGSEX\t99\tmale\n$bulk\n")
    val df = Metadata.load(spark, metaDir.toString, FieldMappingConfig())
    assert(df.count() == 2002)
    // every a_meta row ordinal < every b_meta row ordinal
    val aMax = df.where($"gsm_accession" === "GSMDUP" && $"age" === "11")
      .head.getAs[Long]("__ord")
    val bMin = df.where($"age" === "99").head.getAs[Long]("__ord")
    assert(aMax < bMin)
    // end-to-end: the duplicate-GSM group keeps the FIRST file's values
    val wh = Warehouse(spark, tmpDir("graft-etl").toString)
    val incoming = Dims.resolveFk(
      Dims.resolveFk(df.withColumn("study_key", lit(1L)),
        wh.read("dim_platform"), "platform_accession", "platform_accession", "platform_key"),
      wh.read("dim_illness"), "illness_label", "illness_label", "illness_key")
      .select("gsm_accession", "study_key", "platform_key", "illness_key", "age", "sex", "__ord")
    val dim = Dims.upsertSampleDim(wh.read("dim_sample"), incoming,
      freshSamples(wh.read("dim_sample"), Seq("GSMDUP" -> 1L) ++ (1 to 2000).map(i => s"GSMF$i" -> 1L)))
    val dup = dim.where($"gsm_accession" === "GSMDUP").head
    assert(dup.getAs[String]("age") == "11")
    assert(dup.getAs[String]("sex") == "female")
  }

  test("CLI: resume is the DEFAULT — a re-run skips the completed study; --no-resume re-scans") {
    val root = tmpDir("graft-etl")
    makeStudy(root)
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    val yaml = write(root, "etl.yaml",
      s"""database:
         |  connection_string: unused
         |processing:
         |  input_directory: $root
         |  gene_filter_file: $filter
         |logging:
         |  log_level: WARN
         |""".stripMargin)
    def runCli(args: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        Main.run(args.toArray, spark)
      }
      assert(code == 0, s"exit $code; output: $out")
      out.toString("UTF-8")
    }
    val first = runCli("etl", "--config", yaml.toString, "--warehouse", whDir)
    assert(first.contains("facts=11 ok"))
    // default resume (reference pipeline.py:101-105 resumes every run):
    // the completed study is skipped via its terminal state row, no
    // re-scan of its data
    val second = runCli("etl", "--config", yaml.toString, "--warehouse", whDir)
    assert(second.contains("skipped (resume)"), second)
    // --no-resume forces the full pass; J7 still yields zero new facts
    val third = runCli("etl", "--config", yaml.toString, "--warehouse", whDir, "--no-resume")
    assert(third.contains("facts=0 ok"), third)
    assert(Warehouse(spark, whDir).read("fact_expression").count() == 11)
  }

  test("CLI: a publish-time failure reports FAILED for every study, exits 1, commits nothing") {
    val root = tmpDir("graft-etl")
    makeStudy(root, "GSE0001")
    makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", filterTsv)
    val snapDir = tmpDir("graft-etl")
    // both studies prepare cleanly; the fact append then fails because
    // the fact table's path is a plain file, not a parquet directory
    write(snapDir, "fact_expression", "not parquet\n")
    val yaml = write(root, "etl.yaml",
      s"""database:
         |  connection_string: unused
         |processing:
         |  input_directory: $root
         |  gene_filter_file: $filter
         |logging:
         |  log_level: WARN
         |""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(Array("etl", "--config", yaml.toString, "--warehouse", s"snapshot:$snapDir"), spark)
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(code == 1, s"exit $code; output: $lines")
    Seq("GSE0001", "GSE0002").foreach { acc =>
      assert(lines.exists(l => l.startsWith(s"study=$acc ") && l.contains("FAILED")), lines)
    }
    assert(new SnapshotWarehouse(spark, snapDir.toString).currentVersion() == 0L)
  }

  test("an interrupted load propagates the interrupt instead of reporting failed studies") {
    // a streaming query's stop() interrupts its micro-batch mid-load;
    // the batch must stay uncommitted, not report its studies as FAILED
    val root = tmpDir("graft-etl")
    makeStudy(root)
    val filter = write(root, "filter.tsv", filterTsv)
    val job = new EtlJob(spark, config(root, filter), tmpDir("graft-etl").toString)
    // every other exception becomes a per-study result, so a throw
    // here is the interrupt propagating
    Thread.currentThread().interrupt()
    try intercept[Exception](job.run())
    finally Thread.interrupted() // clear the flag for the next test
  }

  test("X6: differing experiment accession is overridden to directory accession") {
    val root = tmpDir("graft-etl")
    makeStudy(root)
    val filter = write(root, "filter.tsv", filterTsv)
    val whDir = tmpDir("graft-etl").toString
    new EtlJob(spark, config(root, filter), whDir).run()
    val wh = Warehouse(spark, whDir)
    // GSM4 row claimed GSE_OTHER but must land in GSE9006
    assert(wh.read("dim_study").count() == 1)
    val s = wh.read("dim_sample").where($"gsm_accession" === "GSM4").head
    val studyKey = wh.read("dim_study").head.getAs[Long]("study_key")
    assert(s.getAs[Long]("study_key") == studyKey)
  }
}
