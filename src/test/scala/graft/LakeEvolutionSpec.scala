package graft

import org.apache.spark.sql.functions._

/** Hand-checkable fixtures for the round-6 lake/warehouse additions:
  * s17 (mergeSchema reconciliation across drifted file generations)
  * and d6 (SCD Type-2 history construction). The oracle gate proves
  * corpus-scale parity; these pin the semantics on inputs small enough
  * to verify by eye — the null-fill contract of a by-name schema merge
  * and the exact validity intervals of a change feed with ties and
  * unchanged runs.
  */
class LakeEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def withTempDir[A](f: java.nio.file.Path => A): A = {
    val p = tmpDir("graft_lake_spec")
    try f(p)
    finally {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
  }

  test("s17: mergeSchema unions by name and null-fills each generation's absent columns") {
    withTempDir { dir =>
      Seq((0L, "alpha text", "en"), (2L, "beta", "de"))
        .toDF("doc_id", "text", "lang")
        .write.parquet(s"$dir/gen=1")
      Seq((1L, "src9", 42L), (3L, "src7", 7L))
        .toDF("doc_id", "source", "n_chars")
        .write.parquet(s"$dir/gen=2")
      val merged = spark.read.option("mergeSchema", "true")
        .parquet(s"$dir/gen=1", s"$dir/gen=2")
      assert(merged.columns.toSet ==
        Set("doc_id", "text", "lang", "source", "n_chars"))
      val rows = merged.collect().map(r =>
        r.getLong(r.fieldIndex("doc_id")) -> r).toMap
      // v1 rows: real text/lang, null source/n_chars — and vice versa
      assert(rows(0L).getString(rows(0L).fieldIndex("text")) == "alpha text")
      assert(rows(0L).isNullAt(rows(0L).fieldIndex("source")))
      assert(rows(0L).isNullAt(rows(0L).fieldIndex("n_chars")))
      assert(rows(3L).getLong(rows(3L).fieldIndex("n_chars")) == 7L)
      assert(rows(3L).isNullAt(rows(3L).fieldIndex("text")))
      assert(rows(3L).isNullAt(rows(3L).fieldIndex("lang")))
    }
  }

  test("d6: SCD-2 intervals collapse unchanged runs, chain valid_to to the next change, tie-break on orderkey") {
    withTempDir { dir =>
      def ts(d: Int): java.sql.Timestamp =
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
      // customer 1: O -> O (run collapses) -> F -> O; customer 2: one
      // status forever; customer 3: two orders the SAME day, statuses
      // differing — orderkey order decides the sequence
      Seq(
        (101L, 1L, "O", 10.0, ts(1), "1-URGENT"),
        (102L, 1L, "O", 11.0, ts(2), "1-URGENT"),
        (103L, 1L, "F", 12.0, ts(3), "1-URGENT"),
        (104L, 1L, "O", 13.0, ts(5), "1-URGENT"),
        (201L, 2L, "P", 20.0, ts(1), "1-URGENT"),
        (202L, 2L, "P", 21.0, ts(9), "1-URGENT"),
        (301L, 3L, "O", 30.0, ts(4), "1-URGENT"),
        (302L, 3L, "F", 31.0, ts(4), "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .write.parquet(s"$dir/orders.parquet")
      def us(d: Int): Long = ts(d).getTime * 1000L
      val got = SparkEntry.queries("d6_scd2_history")(spark, dir.toString)
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getLong(4), r.getBoolean(5)))
        .sortBy(t => (t._1, t._5))
      assert(got.toSeq == Seq(
        (1L, "O", us(1), Some(us(3)), 1L, false),
        (1L, "F", us(3), Some(us(5)), 2L, false),
        (1L, "O", us(5), None, 3L, true),
        (2L, "P", us(1), None, 1L, true),
        (3L, "O", us(4), Some(us(4)), 1L, false),
        (3L, "F", us(4), None, 2L, true)))
    }
  }
}
