package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** S5 parity: the full ETL + correlation pipeline against an embedded
  * JDBC database (Derby — the in-process JVM database, standing in for
  * the reference's SQLite deployment, database.py:19-36). Everything
  * the parquet E2E slice asserts must hold bit-for-bit over JDBC: same
  * star schema, same keys, same correlation rows, same idempotence.
  */
class JdbcWarehouseSpec extends SparkSpec {


  // keep derby.log out of the repo working dir
  System.setProperty("derby.system.home", tmpDir("graft-jdbc").toString)

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

  private val expressionTsv =
    """gene	GSM1	GSM2	GSM3	GSM4
      |ENSG1	1.0	2.0	3.0	4.0
      |ENSG2	2.0	4.0	6.0	8.0
      |ENSG3	9.0	5.0	1.0	bad
      |ENSGX	1	1	1	1
      |
      |""".stripMargin

  private val filterTsv = "ensembl_id\nENSG1\nENSG2\nENSG3\n"

  private def makeStudy(root: Path, gse: String = "GSE9006"): Path = {
    val d = Files.createDirectories(root.resolve(gse))
    write(d, s"metadata_$gse.tsv", metadataTsv)
    write(d, s"expression_$gse.tsv", expressionTsv)
    d
  }

  private def config(root: Path, filter: Path, url: String): AppConfig = AppConfig(
    DatabaseConfig(url, batchSize = 500, maxRetries = 2, retryBackoffSeconds = 0),
    ProcessingConfig(root, filter),
    LoggingConfig(logLevel = "WARN"))

  private def derbyUrl(): String =
    s"jdbc:derby:${tmpDir("graft-jdbc")}/wh;create=true"

  test("S5 E2E: ETL + correlation over embedded Derby matches the parquet slice") {
    val root = tmpDir("graft-jdbc")
    makeStudy(root)
    val filter = write(root, "filter.tsv", filterTsv)
    val url = derbyUrl()
    val cfg = config(root, filter, url)

    val job = new EtlJob(spark, cfg, url)
    val results = job.run()
    assert(results.length == 1 && results.head.error.isEmpty)
    assert(results.head.samples == 4)
    assert(results.head.facts == 11) // 3 genes x 4 samples - 1 bad cell

    val wh = Warehouse(spark, url)
    assert(wh.isInstanceOf[JdbcWarehouse])
    assert(wh.read("dim_study").count() == 1)
    assert(wh.read("dim_gene").count() == 3)
    assert(wh.read("dim_platform").count() == 2)
    assert(wh.read("dim_illness").count() == 2)
    assert(wh.read("dim_sample").count() == 4)
    assert(wh.read("fact_expression").count() == 11)

    // declared schema round-trips through the dialect (names, order,
    // types; nullability is the one JDBC-metadata difference — a DB
    // read can't promise non-null without lying to the optimizer)
    assert(wh.read("fact_expression").schema.map(f => (f.name, f.dataType)) ==
      Warehouse.schemas("fact_expression").map(f => (f.name, f.dataType)))
    assert(wh.read("dim_sample").schema.fieldNames.toSeq ==
      Warehouse.schemas("dim_sample").fieldNames.toSeq)

    // D4 state rides the same JDBC backend (BOOLEAN/TIMESTAMP columns
    // through the dialect): terminal row observable after the run
    assert(StudyState.completed(wh) == Set("GSE9006"))

    // idempotent re-run: J7 anti-join against the JDBC-read facts
    val rerun = job.run()
    assert(rerun.head.facts == 0)
    assert(wh.read("fact_expression").count() == 11)
    // resume over JDBC skips the finished study entirely
    assert(job.run(resume = true).head.skipped)

    // correlation job over JDBC (reference tests/test_correlation_job.py:143-181)
    val corrJob = new CorrelationJob(spark, url)
    val summary = corrJob.run()
    assert(summary.studies == Seq("GSE9006"))
    assert(summary.pairs == 3)
    val corr = wh.read("fact_gene_pair_corr").collect()
    assert(corr.length == 3)
    val k = wh.read("dim_gene").collect()
      .map(r => r.getAs[String]("ensembl_id") -> r.getAs[Long]("gene_key")).toMap
    val byPair = corr.map(r =>
      (r.getAs[Long]("gene_a_key"), r.getAs[Long]("gene_b_key")) -> r).toMap
    val r12 = byPair((k("ENSG1"), k("ENSG2")))
    assert(math.abs(r12.getAs[Double]("rho_spearman") - 1.0) < 1e-12)
    assert(r12.getAs[Long]("n_samples") == 4)
    val r13 = byPair((k("ENSG1"), k("ENSG3")))
    assert(r13.getAs[Long]("n_samples") == 3) // bad cell -> shared-sample path
    assert(math.abs(r13.getAs[Double]("rho_spearman") + 1.0) < 1e-12)
    corr.foreach(r => assert(r.isNullAt(r.fieldIndex("illness_key"))))

    // S7 delete-then-insert replace: re-run keeps exactly 3 rows
    assert(corrJob.run().pairs == 3)
    assert(wh.read("fact_gene_pair_corr").count() == 3)
  }

  test("JDBC writeDim swap is crash-recoverable: __old restores on read") {
    import spark.implicits._
    val url = derbyUrl()
    val wh = Warehouse(spark, url).asInstanceOf[JdbcWarehouse]
    wh.writeDim("dim_gene", Seq((1L, "ENSG1")).toDF("gene_key", "ensembl_id"))
    assert(wh.read("dim_gene").count() == 1)

    // simulate the crash window: live renamed away, tmp never landed
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("RENAME TABLE dim_gene TO dim_gene__old")
      st.close()
    } finally conn.close()
    val rows = wh.read("dim_gene").collect()
    assert(rows.length == 1 && rows.head.getString(1) == "ENSG1")
    // and the recovery is durable: table is live again
    assert(wh.read("dim_gene").count() == 1)
  }

  test("JDBC swap retry: a crash between set-aside and promote loses neither copy") {
    import spark.implicits._
    val url = derbyUrl()
    val wh = Warehouse(spark, url).asInstanceOf[JdbcWarehouse]
    wh.writeDim("dim_gene", Seq((1L, "ENSG1")).toDF("gene_key", "ensembl_id"))

    // simulate the MID-SWAP crash: a new version sits in __tmp, live
    // has been renamed to __old, the promote never ran
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("RENAME TABLE dim_gene TO dim_gene__old")
      st.close()
    } finally conn.close()
    Seq((1L, "ENSG1"), (2L, "ENSG2")).toDF("gene_key", "ensembl_id")
      .write.format("jdbc").option("url", url)
      .option("dbtable", "dim_gene__tmp")
      .option("createTableColumnTypes", "ensembl_id VARCHAR(64)").save()

    // read() recovery prefers the SET-ASIDE (the last version known
    // complete) — the un-promoted __tmp is not trusted
    assert(wh.read("dim_gene").collect().map(_.getString(1)).toSeq == Seq("ENSG1"))

    // the next writeDim (= what a retry reduces to) completes the
    // upgrade without a window where NO copy exists: final state is
    // the new version, leftovers gone
    wh.writeDim("dim_gene", Seq((1L, "ENSG1"), (2L, "ENSG2"), (3L, "ENSG3"))
      .toDF("gene_key", "ensembl_id"))
    assert(wh.read("dim_gene").count() == 3)
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val md = c2.getMetaData
      def exists(n: String) = {
        val rs = md.getTables(null, null, n.toUpperCase, Array("TABLE"))
        try rs.next() finally rs.close()
      }
      assert(!exists("dim_gene__old") && !exists("dim_gene__tmp"),
        "swap leftovers survived the completed writeDim")
    } finally c2.close()
  }

  test("JDBC read of an absent table is an empty frame with the declared schema") {
    val wh = Warehouse(spark, derbyUrl())
    val df = wh.read("fact_gene_pair_corr")
    assert(df.schema == Warehouse.schemas("fact_gene_pair_corr"))
    assert(df.count() == 0)
  }

  test("JDBC fact reads partition on study_key when it spans a range") {
    import spark.implicits._
    val wh = Warehouse(spark, derbyUrl())
    val facts = (1L to 400L).map(i =>
      (i % 50, i % 120, i % 4 + 1, i.toDouble))
      .toDF("sample_key", "gene_key", "study_key", "expression_value")
    wh.append("fact_expression", facts)
    val back = wh.read("fact_expression")
    assert(back.count() == 400)
    assert(back.rdd.getNumPartitions > 1,
      s"expected a partitioned JDBC scan, got ${back.rdd.getNumPartitions} partition(s)")
    // values survive the bounded per-partition queries (no row lost or
    // duplicated at the partition boundaries)
    assert(back.agg(org.apache.spark.sql.functions.sum("expression_value"))
      .head.getDouble(0) == (1L to 400L).sum.toDouble)
  }

  test("F7 over JDBC: the per-study predicate pushes into the JDBC scan (PushedFilters)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val wh = Warehouse(spark, derbyUrl())
    val facts = (1L to 200L).map(i => (i % 50, i % 20, i % 4 + 1, i.toDouble))
      .toDF("sample_key", "gene_key", "study_key", "expression_value")
    wh.append("fact_expression", facts)
    // the correlation job's F7 scan shape: fact read filtered to one
    // study. The filter must reach the DATABASE (the scan node's
    // PushedFilters), not run Spark-side over a full-table drain —
    // at warehouse scale that is the difference between one indexed
    // study read and shipping every study over one connection.
    val oneStudy = wh.read("fact_expression").where(col("study_key") === 2L)
    assert(oneStudy.count() == 50)
    val scan = oneStudy.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("JDBCRelation"))
      .getOrElse(fail(s"no JDBC scan node in:\n${oneStudy.queryExecution.executedPlan}"))
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(study_key,2)"),
      s"study_key predicate not pushed into the JDBC scan:\n$scan")
  }

  test("dim-swap rename DDL is dialect-correct per JDBC URL scheme") {
    import JdbcWarehouse.renameTableSql
    // Derby + MySQL family: RENAME TABLE (the only syntax they accept)
    assert(renameTableSql("jdbc:derby:/x/wh;create=true", "a", "b") == "RENAME TABLE a TO b")
    assert(renameTableSql("jdbc:mysql://h/db", "a", "b") == "RENAME TABLE a TO b")
    assert(renameTableSql("jdbc:mariadb://h/db", "a", "b") == "RENAME TABLE a TO b")
    // the reference's Postgres deployment (database.py:28-60) rejects
    // RENAME TABLE — it needs ALTER TABLE .. RENAME TO
    assert(renameTableSql("jdbc:postgresql://h:5432/db", "dim_gene", "dim_gene__old") ==
      "ALTER TABLE dim_gene RENAME TO dim_gene__old")
    // SQL Server has no rename DDL at all — sp_rename is the tool
    assert(renameTableSql("jdbc:sqlserver://h;databaseName=db", "a", "b") ==
      "EXEC sp_rename 'a', 'b'")
    assert(renameTableSql("jdbc:jtds:sqlserver://h/db", "a", "b") == "EXEC sp_rename 'a', 'b'")
    // SQLite / H2 / unknown dialects take the SQL-standard form
    assert(renameTableSql("jdbc:sqlite:/x/wh.db", "a", "b") == "ALTER TABLE a RENAME TO b")
    assert(renameTableSql("jdbc:h2:mem:wh", "a", "b") == "ALTER TABLE a RENAME TO b")
  }

  test("post-promote cleanup failure does not fail the study (swap already committed)") {
    import spark.implicits._
    val url = derbyUrl()
    // retry budget 1 so a cleanup SQLException would surface immediately
    // if writeDim still rethrew it
    val wh = new JdbcWarehouse(spark, url, maxRetries = 1, retryBackoffSeconds = 0) {
      // sabotage ONLY the cleanup connection: writeDim's cleanup block
      // opens its own withConn("cleanup dim ..") — fail that acquisition
      override private[etl] def withRetries[A](op: String)(f: => A): A =
        if (op.startsWith("cleanup dim")) throw new java.sql.SQLException("cleanup down")
        else super.withRetries(op)(f)
    }
    wh.writeDim("dim_gene", Seq((1L, "ENSG1")).toDF("gene_key", "ensembl_id"))
    // second write exercises the full swap (set-aside + promote) and the
    // sabotaged cleanup — it must complete, leaving the stale __old
    wh.writeDim("dim_gene", Seq((1L, "ENSG1"), (2L, "ENSG2")).toDF("gene_key", "ensembl_id"))
    assert(wh.read("dim_gene").count() == 2, "promote must commit despite cleanup failure")

    // a healthy writeDim reclaims the stale __old
    val healthy = Warehouse(spark, url).asInstanceOf[JdbcWarehouse]
    healthy.writeDim("dim_gene",
      Seq((1L, "ENSG1"), (2L, "ENSG2"), (3L, "ENSG3")).toDF("gene_key", "ensembl_id"))
    assert(healthy.read("dim_gene").count() == 3)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "DIM_GENE__OLD", Array("TABLE"))
      try assert(!rs.next(), "stale __old not reclaimed by the next writeDim")
      finally rs.close()
    } finally conn.close()
  }

  test("X4: driver-side connection acquisition retries with backoff, then surfaces") {
    val wh = new JdbcWarehouse(spark, "jdbc:derby:/nonexistent/nope;create=false",
      maxRetries = 3, retryBackoffSeconds = 0)
    var attempts = 0
    val ex = intercept[java.sql.SQLException] {
      wh.withRetries("probe") {
        attempts += 1
        throw new java.sql.SQLException(s"boom $attempts")
      }
    }
    assert(attempts == 3)          // maxRetries attempts total
    assert(ex.getMessage == "boom 3") // the LAST failure surfaces
  }
}
