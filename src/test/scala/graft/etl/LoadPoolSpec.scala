package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The driver pool that runs a load's independent branches at once
  * ([[EtlJob.inParallel]]): input-order results, failures rethrown only
  * after every task settles, interrupts that cancel the pool's Spark
  * jobs, no surviving pool threads, and loads whose output does not
  * depend on how the branches interleave.
  */
class LoadPoolSpec extends SparkSpec {


  private def poolThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == "etl-load-branch" && t.isAlive)

  private def waitFor(what: String, timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) fail(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  test("results come back in input order, whatever order the tasks finish in") {
    val tasks = (0 until 8).map(i => () => { Thread.sleep((8 - i) * 15L); i })
    assert(EtlJob.inParallel(spark, tasks) == (0 until 8))
    assert(EtlJob.inParallel(spark, Seq.empty[() => Int]).isEmpty)
    assert(poolThreads().isEmpty)
  }

  test("a failing task is rethrown after the other tasks settle") {
    val settled = new AtomicInteger()
    val boom = new IllegalStateException("branch failed")
    val tasks: Seq[() => Int] = (() => throw boom) +:
      (1 to 3).map(i => () => { Thread.sleep(300); settled.incrementAndGet(); i })
    val thrown = intercept[IllegalStateException](EtlJob.inParallel(spark, tasks))
    assert(thrown eq boom)
    assert(settled.get == 3, "the failure surfaced before the other tasks finished")
    assert(poolThreads().isEmpty)
  }

  test("interrupting the caller cancels the pool's running Spark jobs and rethrows") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.CountDownLatch(1)
    val outcome = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Seq[Long]]]()
    val caller = new Thread(() => {
      val r =
        try Right(EtlJob.inParallel(spark, Seq(() => {
          started.countDown()
          // a job that only ends early if it is cancelled
          sc.parallelize(1 to 4, 4).map { i =>
            val ctx = org.apache.spark.TaskContext.get()
            val t0 = System.currentTimeMillis()
            while (!ctx.isInterrupted() && System.currentTimeMillis() - t0 < 120000L)
              Thread.sleep(10)
            i
          }.count()
        })))
        catch { case t: Throwable => Left(t) }
      outcome.set(r)
    })
    caller.start()
    started.await()
    waitFor("the pool's job to start")(sc.statusTracker.getActiveJobIds.nonEmpty)
    val t0 = System.currentTimeMillis()
    caller.interrupt()
    caller.join(60000)
    assert(!caller.isAlive, "the interrupted caller did not return")
    assert(outcome.get.left.toOption.exists(_.isInstanceOf[InterruptedException]),
      s"expected an InterruptedException, got ${outcome.get}")
    // the job was cancelled, not left running until its 120 s deadline
    waitFor("the cancelled job to end")(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(System.currentTimeMillis() - t0 < 60000)
    assert(poolThreads().isEmpty)
  }

  // ---- loads --------------------------------------------------------

  private val filterTsv = "ensembl_id\nENSG1\nENSG2\nENSG3\nENSG4\n"

  /** Four studies with distinct platforms, illnesses and gene sets, so
    * every vocabulary dim gets several keys to assign.
    */
  private def makeStudies(root: Path): Unit =
    (1 to 4).foreach { s =>
      val gse = f"GSE$s%04d"
      val d = Files.createDirectories(root.resolve(gse))
      val header = "refinebio_accession_code\texperiment_accession\trefinebio_age\t" +
        "refinebio_sex\trefinebio_platform\tcharacteristics_ch2_illness"
      val samples = (1 to 3).map(i => s"GSM$s$i")
      val meta = samples.zipWithIndex.map { case (g, i) =>
        s"$g\t$gse\t${20 + i}\t${if (i % 2 == 0) "female" else "male"}\tGPL$s${i % 2}\tIll${(s + i) % 3}"
      }
      Files.writeString(d.resolve(s"metadata_$gse.tsv"), (header +: meta).mkString("", "\n", "\n"))
      val genes = (1 to 4).filter(g => g != s).map(g => s"ENSG$g") :+ "ENSGX"
      val expr = ("gene" +: samples).mkString("\t") +: genes.zipWithIndex.map { case (g, gi) =>
        (g +: samples.indices.map(i => f"${s * 10 + gi * 3 + i * 1.5}%.1f")).mkString("\t")
      }
      Files.writeString(d.resolve(s"expression_$gse.tsv"), expr.mkString("", "\n", "\n"))
    }

  test("loading the same studies 5 times gives identical dims and facts") {
    val root = tmpDir("graft-pool")
    makeStudies(root)
    val filter = root.resolve("filter.tsv")
    Files.writeString(filter, filterTsv)
    val cfg = AppConfig(DatabaseConfig("unused"), ProcessingConfig(root, filter),
      LoggingConfig(logLevel = "WARN"))
    def snapshot(whDir: String) = {
      val wh = Warehouse(spark, whDir)
      def rows(t: String) = wh.read(t).collect().map(_.toSeq).toSet
      (Seq("dim_study", "dim_platform", "dim_illness", "dim_gene", "dim_sample")
        .map(t => t -> rows(t)).toMap,
        wh.read("fact_expression")
          .select("sample_key", "gene_key", "study_key", "expression_value")
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getAs[Number](2).longValue(), r.getDouble(3))).toSet)
    }
    val loads = (1 to 5).map { i =>
      val whDir = if (i % 2 == 0) s"snapshot:${tmpDir("graft-pool")}" else tmpDir("graft-pool").toString
      val results = new EtlJob(spark, cfg, whDir).run()
      assert(results.map(r => (r.accession, r.samples, r.error)) ==
        (1 to 4).map(s => (f"GSE$s%04d", 3L, None)))
      snapshot(whDir)
    }
    val (dims, facts) = loads.head
    assert(dims("dim_study").size == 4 && dims("dim_platform").size == 8 &&
      dims("dim_illness").size == 3 && dims("dim_gene").size == 4 &&
      dims("dim_sample").size == 12)
    assert(facts.size == 4 * 3 * 3) // 3 whitelisted genes x 3 samples per study
    loads.tail.foreach { case (d, f) =>
      assert(d == dims)
      assert(f == facts)
    }
    assert(poolThreads().isEmpty)
  }

  test("an interrupt during a load propagates, reports no failed study, and commits nothing") {
    val root = tmpDir("graft-pool")
    makeStudies(root)
    val filter = root.resolve("filter.tsv")
    Files.writeString(filter, filterTsv)
    val cfg = AppConfig(DatabaseConfig("unused"), ProcessingConfig(root, filter),
      LoggingConfig(logLevel = "WARN"))
    // the snapshot backend publishes in one commit, so "nothing
    // committed" holds wherever in the load the interrupt lands
    val snapDir = tmpDir("graft-pool").toString
    val job = new EtlJob(spark, cfg, s"snapshot:$snapDir")
    val caller = Thread.currentThread()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the load's first Spark job is a prep aggregate on a pool thread:
    // interrupt the caller, which is then waiting on the pool
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (fired.compareAndSet(false, true)) caller.interrupt()
    }
    spark.sparkContext.addSparkListener(listener)
    val outcome =
      try Right(job.run())
      catch { case t: Throwable => Left(t) }
      finally {
        spark.sparkContext.removeSparkListener(listener)
        Thread.interrupted() // clear the flag for the next test
      }
    assert(fired.get)
    outcome match {
      case Right(results) => fail(s"the interrupted load returned results: $results")
      case Left(t) => assert(
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[InterruptedException]), t)
    }
    assert(new SnapshotWarehouse(spark, snapDir).currentVersion() == 0L)
    assert(poolThreads().isEmpty)
  }
}
