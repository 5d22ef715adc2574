package graft

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}

import graft.etl.{AppConfig, DatabaseConfig, EtlJob, LoggingConfig, ProcessingConfig}

/** Rebuilds the /tmp/scale_study fixture used by the Probe mains and
  * BASELINE.md measurements:
  *
  *   Test/runMain graft.MakeScaleFixture [nStudies] [samples] [genes] [root]
  *
  * Defaults: 4 studies x 5,000 samples x 1,200 genes, whitelist of the
  * first 120 genes (the reference's published shape scaled ~30x:
  * docs/genomic-etl-requirements.md:391-400) — then runs the unioned
  * ETL so `<root>/wh` holds the loaded star schema.
  *
  * Values are seeded pseudo-random per (study, gene, sample): the
  * fixture is deterministic across rebuilds.
  */
object MakeScaleFixture {
  def main(args: Array[String]): Unit = {
    val nStudies = args.headOption.map(_.toInt).getOrElse(4)
    val samples = if (args.length > 1) args(1).toInt else 5000
    val genes = if (args.length > 2) args(2).toInt else 1200
    val root = if (args.length > 3) args(3) else "/tmp/scale_study"
    val whitelist = 120

    val input = Paths.get(root, "input")
    Files.createDirectories(input)

    // gene filter: first `whitelist` genes
    val filt = Paths.get(root, "filter_genes.tsv")
    val fw = new BufferedWriter(new FileWriter(filt.toFile))
    fw.write("ensembl_id\n")
    (1 to whitelist).foreach(g => fw.write(s"ENSG$g\n"))
    fw.close()

    (1 to nStudies).foreach { s =>
      val gse = f"GSE9999$s"
      val dir = Files.createDirectories(input.resolve(gse))
      val mw = new BufferedWriter(new FileWriter(dir.resolve(s"metadata_$gse.tsv").toFile))
      mw.write("refinebio_accession_code\texperiment_accession\trefinebio_age\trefinebio_sex\trefinebio_platform\tcharacteristics_ch1_Illness\n")
      (1 to samples).foreach { i =>
        val sex = if (i % 2 == 0) "male" else "female"
        mw.write(s"GSM${s}_$i\t$gse\t${20 + i % 60}\t$sex\tGPL${i % 3}\tIll${i % 5}\n")
      }
      mw.close()

      val ew = new BufferedWriter(
        new FileWriter(dir.resolve(s"expression_$gse.tsv").toFile), 1 << 22)
      ew.write("gene")
      (1 to samples).foreach(i => ew.write(s"\tGSM${s}_$i"))
      ew.write("\n")
      val rnd = new scala.util.Random(1234L + s)
      val buf = new java.lang.StringBuilder(samples * 8)
      (1 to genes).foreach { g =>
        buf.setLength(0)
        buf.append("ENSG").append(g)
        var i = 0
        while (i < samples) {
          buf.append('\t')
          // 4dp values, range ~[0, 16): compact but tie-light
          buf.append(math.rint(rnd.nextDouble() * 16 * 10000) / 10000.0)
          i += 1
        }
        buf.append('\n')
        ew.write(buf.toString)
      }
      ew.close()
      println(s"fixture: wrote $gse")
    }

    val spark = GraftSession.getOrCreate("graft-make-fixture")
    val cfg = AppConfig(
      DatabaseConfig("unused"),
      ProcessingConfig(input, filt),
      LoggingConfig(logLevel = "WARN"))
    val t0 = System.nanoTime()
    val results = new EtlJob(spark, cfg, s"$root/wh").run()
    results.foreach(r => println(
      s"fixture: study=${r.accession} samples=${r.samples} facts=${r.facts} " +
        r.error.map("FAILED: " + _).getOrElse("ok")))
    println(f"fixture: unioned ETL ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
