package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** D4 resume-state surface: state rows are observable at each phase,
  * and a resumed run re-processes ONLY unfinished studies.
  */
class StudyStateSpec extends SparkSpec {


  private def write(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.writeString(p, content); p
  }

  private def makeStudy(root: Path, gse: String): Path = {
    val d = Files.createDirectories(root.resolve(gse))
    write(d, s"metadata_$gse.tsv",
      s"""refinebio_accession_code	experiment_accession	refinebio_age	refinebio_sex	refinebio_platform	characteristics_ch1_Illness
         |GSM1	$gse	16	female	GPL96	Healthy
         |GSM2	$gse	25	male	GPL96	Diabetes
         |""".stripMargin)
    write(d, s"expression_$gse.tsv",
      "gene\tGSM1\tGSM2\nENSG1\t1.0\t2.0\nENSG2\t2.0\t4.0\n")
    d
  }

  private def config(root: Path, filter: Path): AppConfig = AppConfig(
    DatabaseConfig("unused"),
    ProcessingConfig(root, filter),
    LoggingConfig(logLevel = "WARN"))

  test("state rows observable after a run; resume skips completed studies only") {
    val root = tmpDir("graft-state")
    makeStudy(root, "GSE0001")
    makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", "ensembl_id\nENSG1\nENSG2\n")
    val whDir = tmpDir("graft-state").toString
    val wh = Warehouse(spark, whDir)
    val job = new EtlJob(spark, config(root, filter), whDir)

    val r1 = job.run()
    assert(r1.forall(r => r.error.isEmpty && !r.skipped))
    // terminal state per study: both phases committed
    val st = StudyState.load(wh)
    assert(st.keySet == Set("GSE0001", "GSE0002"))
    assert(st.values.forall(s => s.metadataLoaded && s.factsLoaded))
    assert(StudyState.completed(wh) == Set("GSE0001", "GSE0002"))

    // resume over a finished warehouse: everything skips, nothing re-read
    val r2 = job.run(resume = true)
    assert(r2.forall(_.skipped))
    assert(wh.read("fact_expression").count() == 8)

    // "crash" GSE0002: in-flight state (metadata committed, facts not) —
    // exactly what a failure between the two commits leaves behind
    StudyState.upsert(wh, spark, Seq("GSE0002"), metadataLoaded = true,
      factsLoaded = false)
    assert(StudyState.completed(wh) == Set("GSE0001"))
    val r3 = job.run(resume = true)
    val byAcc = r3.map(r => r.accession -> r).toMap
    assert(byAcc("GSE0001").skipped)
    assert(!byAcc("GSE0002").skipped && byAcc("GSE0002").error.isEmpty)
    // facts unchanged (J7 dedup) and GSE0002's state is terminal again
    assert(wh.read("fact_expression").count() == 8)
    assert(StudyState.completed(wh) == Set("GSE0001", "GSE0002"))

    // the reference's clear_state: forgotten study re-processes fully
    StudyState.clear(wh, Seq("GSE0001"))
    assert(StudyState.load(wh).keySet == Set("GSE0002"))
    val r4 = job.run(resume = true)
    assert(!r4.find(_.accession == "GSE0001").get.skipped)
  }
}
