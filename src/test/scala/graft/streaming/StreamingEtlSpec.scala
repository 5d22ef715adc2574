package graft.streaming

import graft.SparkSpec
import graft.etl._
import graft.etl.Main
import java.nio.file.{Files, Path}

/** Incremental streaming ingest parity (round-3 verdict #4): studies
  * arriving over two manifest batches must produce a warehouse
  * value-identical to the one-shot batch load, with exactly-once
  * manifest processing across query restarts and resume-skip of
  * re-listed studies.
  */
class StreamingEtlSpec extends SparkSpec {


  private def write(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.writeString(p, content); p
  }

  private val metadataTsv =
    """refinebio_accession_code	experiment_accession	refinebio_age	refinebio_sex	refinebio_platform	characteristics_ch2_illness
      |GSM1	GSE9006	16	female	GPL96	Healthy
      |GSM2	GSE9006		female	GPL96	Healthy
      |GSM3	GSE9006	25	male	GPL96	Diabetes
      |GSM4	GSE9006	30	male	GPL97	Diabetes
      |""".stripMargin

  private val expressionTsv =
    """gene	GSM1	GSM2	GSM3	GSM4
      |ENSG1	1.0	2.0	3.0	4.0
      |ENSG2	2.0	4.0	6.0	8.0
      |ENSG3	9.0	5.0	1.0	bad
      |""".stripMargin

  private val filterTsv = "ensembl_id\nENSG1\nENSG2\nENSG3\n"

  private def makeStudy(root: Path, gse: String): Path = {
    val d = Files.createDirectories(root.resolve(gse))
    write(d, s"metadata_$gse.tsv", metadataTsv.replace("GSE9006", gse))
    write(d, s"expression_$gse.tsv",
      if (gse == "GSE0002") expressionTsv.replace("bad", "0.5") else expressionTsv)
    d
  }

  private def config(root: Path, filter: Path): AppConfig = AppConfig(
    DatabaseConfig("unused"),
    ProcessingConfig(root, filter),
    LoggingConfig(logLevel = "WARN"))

  /** Natural-value fact tuples through the dims — surrogate keys may be
    * assigned in a different order between the two loads.
    */
  private def factTuples(whDir: String): Set[Seq[Any]] = {
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

  test("two-batch streaming arrival ≡ one-shot batch load; restart drains only new manifests; re-listed studies skip") {
    val root = tmpDir("graft-setl")
    val a = makeStudy(root, "GSE9006")
    val b = makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", filterTsv)
    val cfg = config(root, filter)

    // one-shot batch baseline over both studies
    val whBatch = tmpDir("graft-setl").toString
    val batchResults = new EtlJob(spark, cfg, whBatch).run()
    assert(batchResults.forall(_.error.isEmpty))

    // streaming: manifest batch 1 lists study A only
    val whStream = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    val checkpoint = tmpDir("graft-setl").resolve("ckpt").toString
    write(manifests, "arrival_1.txt", s"$a\n")
    val etl = new StreamingEtl(spark, cfg, whStream)
    val r1 = etl.ingestAvailable(manifests.toString, checkpoint)
    assert(r1.map(_.accession) == Seq("GSE9006") && r1.head.facts == 11)

    // batch 2 arrives; a RESTARTED query (same checkpoint) must drain
    // only the new manifest — exactly-once across restarts
    write(manifests, "arrival_2.txt", s"$b\n")
    val r2 = etl.ingestAvailable(manifests.toString, checkpoint)
    assert(r2.map(_.accession) == Seq("GSE0002") && r2.head.facts == 12)

    // the incremental warehouse is value-identical to the batch load
    assert(factTuples(whStream) == factTuples(whBatch))
    assert(factTuples(whStream).size == 23)

    // a manifest RE-LISTING a finished study is skipped via StudyState
    // (resume default), not re-scanned; zero new facts either way
    write(manifests, "arrival_3.txt", s"$a\n")
    val r3 = etl.ingestAvailable(manifests.toString, checkpoint)
    assert(r3.map(r => (r.accession, r.skipped)) == Seq(("GSE9006", true)))
    assert(factTuples(whStream).size == 23)

    // an empty drain (no new manifests) is a no-op
    assert(etl.ingestAvailable(manifests.toString, checkpoint).isEmpty)
  }

  test("streaming ingest into the snapshot backend: one atomic manifest commit per micro-batch") {
    val root = tmpDir("graft-setl")
    val a = makeStudy(root, "GSE9006")
    val b = makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", filterTsv)
    val cfg = config(root, filter)

    val snapDir = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    val checkpoint = tmpDir("graft-setl").resolve("ckpt").toString
    val etl = new StreamingEtl(spark, cfg, s"snapshot:$snapDir")
    val sw = new graft.etl.SnapshotWarehouse(spark, snapDir)

    // each drained micro-batch = ONE manifest version: the 6-table
    // load (5 dims + state + facts) is all-or-nothing per batch
    write(manifests, "arrival_1.txt", s"$a\n")
    etl.ingestAvailable(manifests.toString, checkpoint)
    assert(sw.currentVersion() == 1L)
    write(manifests, "arrival_2.txt", s"$b\n")
    etl.ingestAvailable(manifests.toString, checkpoint)
    assert(sw.currentVersion() == 2L)

    // contents identical to the plain-backend one-shot load
    val whBatch = tmpDir("graft-setl").toString
    new EtlJob(spark, cfg, whBatch).run()
    assert(factTuples(s"snapshot:$snapDir") == factTuples(whBatch))

    // time travel reads each batch's generation: v1 = study A only
    assert(sw.readAt("fact_expression", 1L).count() == 11)
    assert(sw.readAt("fact_expression", 2L).count() == 23)

    // a re-listed finished study commits nothing (resume skip)
    write(manifests, "arrival_3.txt", s"$a\n")
    etl.ingestAvailable(manifests.toString, checkpoint)
    assert(sw.currentVersion() == 2L)
  }

  test("a failed study fails the batch: its manifest stays unprocessed and the next drain retries it") {
    val root = tmpDir("graft-setl")
    val filter = write(root, "filter.tsv", filterTsv)
    val cfg = config(root, filter)
    val whDir = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    val checkpoint = tmpDir("graft-setl").resolve("ckpt").toString
    val etl = new StreamingEtl(spark, cfg, whDir)

    // broken study: metadata has the wrong columns
    val d = Files.createDirectories(root.resolve("GSE9006"))
    write(d, "metadata_GSE9006.tsv", "wrong\tcols\nx\ty\n")
    write(d, "expression_GSE9006.tsv", expressionTsv)
    write(manifests, "m1.txt", s"$d\n")
    val r1 = etl.ingestAvailable(manifests.toString, checkpoint)
    assert(r1.exists(_.error.isDefined), s"expected a failed study: $r1")
    assert(factTuples(whDir).isEmpty)

    // the operator FIXES the study in place; the same (uncommitted)
    // manifest is retried by the next drain — a transient failure
    // self-heals with no re-publication
    write(d, "metadata_GSE9006.tsv", metadataTsv)
    val r2 = etl.ingestAvailable(manifests.toString, checkpoint)
    assert(r2.map(r => (r.accession, r.error.isEmpty)) == Seq(("GSE9006", true)), r2.toString)
    assert(factTuples(whDir).size == 11)

    // committed now: a further drain is empty
    assert(etl.ingestAvailable(manifests.toString, checkpoint).isEmpty)
  }

  test("long-lived ProcessingTime query ingests manifests dropped while running (round-4 verdict #6)") {
    val root = tmpDir("graft-setl")
    val a = makeStudy(root, "GSE9006")
    val b = makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", filterTsv)
    val cfg = config(root, filter)

    // batch baseline for value-identity
    val whBatch = tmpDir("graft-setl").toString
    assert(new EtlJob(spark, cfg, whBatch).run().forall(_.error.isEmpty))

    val whStream = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    val checkpoint = tmpDir("graft-setl").resolve("ckpt").toString
    val etl = new StreamingEtl(spark, cfg, whStream)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // first manifest present at start; the second drops mid-flight
    write(manifests, "arrival_1.txt", s"$a\n")
    val query = etl.ingestProcessingTime(manifests.toString, checkpoint,
      interval = "50 milliseconds") { rs =>
      results.synchronized { results ++= rs.map(r => (r.accession, r.facts)); () }
    }
    try {
      query.processAllAvailable()
      assert(results.synchronized(results.toList) == List(("GSE9006", 11L)))

      // second manifest arrives WHILE the query runs — the next tick
      // must ingest it through the same micro-batch body
      write(manifests, "arrival_2.txt", s"$b\n")
      query.processAllAvailable()
      assert(results.synchronized(results.toList) ==
        List(("GSE9006", 11L), ("GSE0002", 12L)))
    } finally query.stop()

    // two live ticks == one batch load, value-identical
    assert(factTuples(whStream) == factTuples(whBatch))
  }

  test("replayed second batch (crash between side-effect and checkpoint commit) lands zero facts") {
    val root = tmpDir("graft-setl")
    val a = makeStudy(root, "GSE9006")
    val b = makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", filterTsv)
    val cfg = config(root, filter)
    val whDir = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    val ckpt = tmpDir("graft-setl").resolve("ckpt")
    val etl = new StreamingEtl(spark, cfg, whDir)

    write(manifests, "m1.txt", s"$a\n")
    assert(etl.ingestAvailable(manifests.toString, ckpt.toString).map(_.facts) == Seq(11L))

    // snapshot the checkpoint BEFORE batch 2: restoring it afterwards
    // simulates the crash window where the warehouse side-effect
    // committed but the streaming checkpoint did not
    val snap = tmpDir("graft-setl").resolve("ckpt_snap")
    copyTree(ckpt, snap)
    write(manifests, "m2.txt", s"$b\n")
    assert(etl.ingestAvailable(manifests.toString, ckpt.toString).map(_.facts) == Seq(12L))
    val after = factTuples(whDir)
    assert(after.size == 23)

    // "crash": roll the checkpoint back and re-drain — batch 2 REPLAYS
    deleteTree(ckpt)
    copyTree(snap, ckpt)
    val replay = etl.ingestAvailable(manifests.toString, ckpt.toString)
    // the replayed study resolves as a resume-skip (terminal in
    // StudyState): zero new facts, warehouse byte-identical
    assert(replay.map(r => (r.accession, r.skipped, r.facts)) == Seq(("GSE0002", true, 0L)),
      replay.toString)
    assert(factTuples(whDir) == after)
  }

  test("a second drain+correlate of new studies reuses the first round's generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = tmpDir("graft-setl")
    val filter = write(root, "filter.tsv", filterTsv)
    val cfg = config(root, filter)
    val whDir = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    val checkpoint = tmpDir("graft-setl").resolve("ckpt").toString
    val etl = new StreamingEtl(spark, cfg, whDir)

    // one complete study (dense correlate path) and one with a bad cell
    // (exact path), with accessions and GSM ids new to the warehouse
    def study(gse: String, complete: Boolean): Path = {
      val d = Files.createDirectories(root.resolve(gse))
      write(d, s"metadata_$gse.tsv",
        metadataTsv.replace("GSE9006", gse).replace("GSM", s"GSM$gse-"))
      write(d, s"expression_$gse.tsv",
        (if (complete) expressionTsv.replace("bad", "0.5") else expressionTsv)
          .replace("GSM", s"GSM$gse-"))
      d
    }
    /** Classes compiled by one drain of a two-study manifest and the
      * correlate of its studies.
      */
    def round(n: Int): Long = {
      val (dense, exact) = (s"GSE70$n", s"GSE80$n")
      write(manifests, s"arrival_$n.txt",
        s"${study(dense, complete = true)}\n${study(exact, complete = false)}\n")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val loaded = etl.ingestAvailable(manifests.toString, checkpoint)
      assert(loaded.map(r => (r.accession, r.facts, r.error)).sortBy(_._1) ==
        Seq((dense, 12L, None), (exact, 11L, None)), loaded.toString)
      val summary = new graft.etl.CorrelationJob(spark, whDir).run(Seq(dense, exact))
      assert(summary.studies == Seq(dense, exact) && summary.pairs == 6, summary.toString)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }

    val first = round(1)
    val second = round(2)
    // same plan shapes, new literals: the second round finds its classes
    // in the cache (GraftSession.CodegenCacheEntries); at Spark's default
    // size of 100 it recompiles ~240
    assert(second <= 20, s"second round compiled $second classes (first: $first)")
  }

  private def copyTree(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(from).iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else { Files.createDirectories(dest.getParent); Files.copy(p, dest); () }
    }
  }

  private def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(f => { Files.deleteIfExists(f); () })
  }

  test("CLI: etl-stream drains manifests through Main with the same results") {
    val root = tmpDir("graft-setl")
    val a = makeStudy(root, "GSE9006")
    val filter = write(root, "filter.tsv", filterTsv)
    val yaml = write(root, "etl.yaml",
      s"""database:
         |  connection_string: unused
         |processing:
         |  input_directory: $root
         |  gene_filter_file: $filter
         |logging:
         |  log_level: WARN
         |""".stripMargin)
    val whDir = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    write(manifests, "m1.txt", s"$a\n")
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(Array("etl-stream", "--config", yaml.toString, "--warehouse", whDir,
        "--manifest", manifests.toString), spark)
    }
    assert(code == 0, s"exit $code: $out")
    assert(out.toString("UTF-8").contains("study=GSE9006 samples=4 facts=11 ok"), out.toString)
    assert(factTuples(whDir).size == 11)
  }

  test("CLI: etl-stream --follow keeps ticking and exits 0 on operator stop") {
    val root = tmpDir("graft-setl")
    val a = makeStudy(root, "GSE9006")
    val b = makeStudy(root, "GSE0002")
    val filter = write(root, "filter.tsv", filterTsv)
    val yaml = write(root, "etl.yaml",
      s"""database:
         |  connection_string: unused
         |processing:
         |  input_directory: $root
         |  gene_filter_file: $filter
         |logging:
         |  log_level: WARN
         |""".stripMargin)
    val whDir = tmpDir("graft-setl").toString
    val manifests = tmpDir("graft-setl")
    write(manifests, "m1.txt", s"$a\n")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val active = spark.streams.active.map(_.id).toSet
    val cli = Future {
      Main.run(Array("etl-stream", "--config", yaml.toString, "--warehouse", whDir,
        "--manifest", manifests.toString, "--follow",
        "--interval", "50 milliseconds"), spark)
    }
    def ours = spark.streams.active.filterNot(q => active(q.id))
    try {
      // first manifest lands, then a second dropped while it runs
      eventually(factTuples(whDir).size == 11, "first batch")
      write(manifests, "m2.txt", s"$b\n")
      eventually(factTuples(whDir).size == 23, "second batch")
    } finally ours.foreach(_.stop())
    assert(Await.result(cli, 60.seconds) == 0)
  }

  /** Polls the condition; only a warehouse path the first micro-batch
    * has not created yet counts as not-yet. Any other failed read fails
    * the test: a load appends dim rows and writes new partitions, so a
    * reader never loses a file under it.
    */
  private def eventually(cond: => Boolean, what: String,
      timeoutMs: Long = 30000): Unit = {
    val t0 = System.currentTimeMillis()
    def notYetCreated(e: org.apache.spark.sql.AnalysisException) =
      e.getCondition == "PATH_NOT_FOUND"
    while (!(try cond catch { case e: org.apache.spark.sql.AnalysisException if notYetCreated(e) => false })) {
      if (System.currentTimeMillis() - t0 > timeoutMs)
        fail(s"timed out waiting for $what")
      Thread.sleep(100)
    }
  }
}
