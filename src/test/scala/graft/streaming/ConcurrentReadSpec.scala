package graft.streaming

import graft.SparkSpec
import graft.etl._
import java.nio.file.{Files, Path}

/** A reader polling the plain parquet warehouse while micro-batches of
  * new studies land must never fail: the load appends dim rows and
  * writes new `study_key` partitions, so no file a reader may have
  * listed is deleted or renamed under it.
  */
class ConcurrentReadSpec extends SparkSpec {

  private val header = "refinebio_accession_code\texperiment_accession\trefinebio_age\t" +
    "refinebio_sex\trefinebio_platform\tcharacteristics_ch2_illness"

  private def study(root: Path, gse: String, n: Int): Path = {
    val d = Files.createDirectories(root.resolve(gse))
    val gsms = (1 to 4).map(i => s"GSM$gse-$i")
    val meta = gsms.zipWithIndex.map { case (g, i) =>
      s"$g\t$gse\t${20 + i}\t${if (i % 2 == 0) "female" else "male"}\tGPL$n\tIll${i % 2}"
    }
    Files.writeString(d.resolve(s"metadata_$gse.tsv"), (header +: meta).mkString("", "\n", "\n"))
    val expr = ("gene" +: gsms).mkString("\t") +: (1 to 3).map { g =>
      (s"ENSG$n$g" +: gsms.indices.map(i => s"${g * 7 + i}.25")).mkString("\t")
    }
    Files.writeString(d.resolve(s"expression_$gse.tsv"), expr.mkString("", "\n", "\n"))
    d
  }

  test("a reader polling dims and facts sees no failure while three drains of new studies land") {
    val root = tmpDir("graft-creader")
    val filter = root.resolve("filter.tsv")
    Files.writeString(filter,
      ("ensembl_id" +: (0 to 3).flatMap(n => (1 to 3).map(g => s"ENSG$n$g"))).mkString("", "\n", "\n"))
    val cfg = AppConfig(DatabaseConfig("unused"), ProcessingConfig(root, filter),
      LoggingConfig(logLevel = "WARN"))
    val whDir = tmpDir("graft-creader-wh").toString
    assert(new EtlJob(spark, cfg, whDir).processUnioned(Seq(study(root, "GSE900", 0)))
      .forall(_.error.isEmpty))

    val tables = Seq("dim_study", "dim_gene", "dim_sample", "fact_expression")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      val wh = Warehouse(spark, whDir)
      while (!stop.get) tables.foreach { t =>
        try { wh.read(t).collect(); reads.incrementAndGet(); () }
        catch { case e: Exception => failures.add(s"$t: ${e.getMessage}"); () }
      }
    }, "warehouse-reader")
    reader.start()
    val manifests = tmpDir("graft-creader-manifests")
    val checkpoint = tmpDir("graft-creader-ckpt").resolve("ckpt").toString
    val etl = new StreamingEtl(spark, cfg, whDir)
    try (1 to 3).foreach { n =>
      val gse = s"GSE90$n"
      Files.writeString(manifests.resolve(s"m$n.txt"), s"${study(root, gse, n)}\n")
      val loaded = etl.ingestAvailable(manifests.toString, checkpoint)
      assert(loaded.map(r => (r.accession, r.facts, r.error)) == Seq((gse, 12L, None)))
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(!reader.isAlive)
    assert(reads.get > tables.size, s"the reader completed only ${reads.get} reads")
    assert(failures.isEmpty,
      s"${failures.size} of ${failures.size + reads.get} reads failed:\n" +
        failures.toArray.take(5).mkString("\n"))
    assert(Warehouse(spark, whDir).read("dim_sample").count() == 16)
  }
}
