package graft.etl

import graft.SparkSpec
import java.nio.file.Files

/** EXECUTE the Postgres and SQL Server dialect branches of
  * [[JdbcWarehouse]] (round 13 — they were string-asserted only,
  * because the sandbox ships no pg/mssql/H2 jars): the [[ShimJdbc]]
  * driver accepts real `jdbc:postgresql:`/`jdbc:sqlserver:` URLs —
  * so BOTH dialect selectors engage: Spark's own
  * PostgresDialect/MsSqlServerDialect on the sink/source side, and
  * JdbcWarehouse.renameTableSql/createEmptyLikeSql on the DDL side —
  * stores in embedded Derby, and records every literal statement, so
  * the tests assert the exact dialect SQL was issued IN ORDER and the
  * storage round-trips.
  */
class JdbcDialectExecutionSpec extends SparkSpec {
  import spark.implicits._

  ShimJdbc.register

  private def url(dialect: String): String = {
    val d = tmpDir("graft-shim")
    s"jdbc:$dialect:shim:$d/wh"
  }

  private def renames(dialect: String): Seq[String] = dialect match {
    case "postgresql" => ShimJdbc.recordedFor(dialect)
      .filter(_.toUpperCase.startsWith("ALTER TABLE"))
    case "sqlserver" => ShimJdbc.recordedFor(dialect)
      .filter(_.toUpperCase.startsWith("EXEC SP_RENAME"))
  }

  test("Postgres dialect EXECUTES: writeDim swap issues ALTER TABLE .. RENAME TO in order; crashed swap recovers on read") {
    val u = url("postgresql")
    val wh = Warehouse(spark, u).asInstanceOf[JdbcWarehouse]
    wh.writeDim("dim_gene", Seq((1L, "ENSG1")).toDF("gene_key", "ensembl_id"))
    assert(wh.read("dim_gene").count() == 1)
    val before = renames("postgresql").size
    // second write runs the FULL swap: set-aside live -> __old,
    // promote __tmp -> live, drop __old
    wh.writeDim("dim_gene", Seq((1L, "ENSG1"), (2L, "ENSG2")).toDF("gene_key", "ensembl_id"))
    assert(wh.read("dim_gene").count() == 2)
    val issued = renames("postgresql").drop(before)
    assert(issued == Seq(
      "ALTER TABLE dim_gene RENAME TO dim_gene__old",
      "ALTER TABLE dim_gene__tmp RENAME TO dim_gene"),
      s"postgres swap DDL wrong or out of order: $issued")

    // crash window: live renamed away (postgres syntax, through the
    // shim — proving the translation runs), __tmp never landed
    val conn = java.sql.DriverManager.getConnection(u)
    try {
      val st = conn.createStatement()
      st.executeUpdate("ALTER TABLE dim_gene RENAME TO dim_gene__old")
      st.close()
    } finally conn.close()
    // read() recovery re-issues the postgres rename to restore live
    val rows = wh.read("dim_gene").collect()
    assert(rows.length == 2)
    assert(renames("postgresql").last == "ALTER TABLE dim_gene__old RENAME TO dim_gene")
  }

  test("SQL Server dialect EXECUTES: writeDim swap issues EXEC sp_rename in order; round-trips") {
    val u = url("sqlserver")
    val wh = Warehouse(spark, u).asInstanceOf[JdbcWarehouse]
    wh.writeDim("dim_study", Seq((1L, "GSE1")).toDF("study_key", "gse_accession"))
    val before = renames("sqlserver").size
    wh.writeDim("dim_study",
      Seq((1L, "GSE1"), (2L, "GSE2")).toDF("study_key", "gse_accession"))
    assert(wh.read("dim_study").count() == 2)
    val issued = renames("sqlserver").drop(before)
    assert(issued == Seq(
      "EXEC sp_rename 'dim_study', 'dim_study__old'",
      "EXEC sp_rename 'dim_study__tmp', 'dim_study'"),
      s"sqlserver swap DDL wrong or out of order: $issued")
  }

  test("create-on-first-batch CTAS executes per dialect: Postgres WITH NO DATA, SQL Server SELECT INTO") {
    def count(u: String, table: String): Long = {
      val conn = java.sql.DriverManager.getConnection(u)
      try {
        val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally conn.close()
    }
    Seq("postgresql", "sqlserver").foreach { dialect =>
      val u = url(dialect)
      val wh = Warehouse(spark, u).asInstanceOf[JdbcWarehouse]
      val batch = Seq((0L, "a", 1.5), (0L, "b", 2.5))
        .toDF("batch_id", "k", "v")
      // first batch: the table does not exist — promoteStage runs the
      // dialect's create-empty-like statement inside the transaction
      wh.replaceBatchAtomic("metrics", batch, batchId = 0L)
      assert(count(u, "metrics") == 2L, s"$dialect: first batch not promoted")
      // whole-batch replay (same id) is idempotent
      wh.replaceBatchAtomic("metrics", batch, batchId = 0L)
      assert(count(u, "metrics") == 2L, s"$dialect: batch replay duplicated rows")
      val ctas = ShimJdbc.recordedFor(dialect)
        .filter(s => s.toUpperCase.contains(" INTO metrics".toUpperCase) ||
          s.toUpperCase.startsWith("CREATE TABLE METRICS AS"))
      dialect match {
        case "postgresql" =>
          assert(ctas.exists(_ ==
            "CREATE TABLE metrics AS SELECT * FROM metrics__stage WITH NO DATA"),
            s"pg CTAS not issued: $ctas")
        case "sqlserver" =>
          assert(ctas.exists(_ ==
            "SELECT * INTO metrics FROM metrics__stage WHERE 1 = 0"),
            s"mssql SELECT INTO not issued: $ctas")
      }
    }
  }

  test("shim translation is DDL-scoped and exact (unit)") {
    import ShimJdbc.translate
    assert(translate("postgresql", "ALTER TABLE a RENAME TO b") == "RENAME TABLE a TO b")
    assert(translate("postgresql", "SELECT 1 FROM t LIMIT 1") ==
      "SELECT 1 FROM t FETCH FIRST 1 ROWS ONLY")
    assert(translate("postgresql", """CREATE TABLE t ("v" FLOAT8 , "s" TEXT )""") ==
      """CREATE TABLE t ("v" DOUBLE , "s" VARCHAR(4000) )""")
    // data statements are untouched even if a VALUE contains a type word
    assert(translate("postgresql", "DELETE FROM t WHERE \"k\" IN (1,2)") ==
      "DELETE FROM t WHERE \"k\" IN (1,2)")
    assert(translate("sqlserver", "EXEC sp_rename 'a', 'b'") == "RENAME TABLE a TO b")
    assert(translate("sqlserver", "SELECT * INTO t FROM s WHERE 1 = 0") ==
      "CREATE TABLE t AS SELECT * FROM s WITH NO DATA")
  }
}
