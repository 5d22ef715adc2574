package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Co-located (bucketed) joins: both sides bucketed by the join key
  * into the same bucket count must join with NO exchange on either
  * side — the shuffle that dominates a big⋈big join at scale is
  * replaced by file layout.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed fact-dim join plans without any shuffle exchange") {
    val dir = tmpDir("graft_bucketing").toString
    val wh = new ParquetWarehouse(spark, dir)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ, not BHJ
    try {
      val fact = (1 to 10000)
        .map(i => (i.toLong % 500, i.toLong, (i % 97).toDouble))
        .toDF("sample_key", "row_id", "v")
      val dim = (0L until 500L).map(k => (k, s"GSM$k")).toDF("sample_key", "gsm")
      wh.writeBucketed("graft_b_fact", fact, "sample_key", buckets = 4)
      wh.writeBucketed("graft_b_dim", dim, "sample_key", buckets = 4)

      val joined = spark.table("graft_b_fact").join(spark.table("graft_b_dim"), "sample_key")
      val rows = joined.collect() // finalizes the (adaptive) plan
      assert(rows.length == 10000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join, got:\n$plan")

      // contrast: the same join over plain (unbucketed) parquet shuffles
      fact.write.mode("overwrite").parquet(s"$dir/plain_fact")
      dim.write.mode("overwrite").parquet(s"$dir/plain_dim")
      val plainJoin = spark.read.parquet(s"$dir/plain_fact")
        .join(spark.read.parquet(s"$dir/plain_dim"), "sample_key")
      plainJoin.collect()
      assert(plainJoin.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_b_fact")
      spark.sql("DROP TABLE IF EXISTS graft_b_dim")
    }
  }

  test("bucketed snapshot diff plans without any shuffle exchange") {
    // the Diff scaladoc's layout claim: two generations bucketed on
    // the key diff with no exchange at all — the reconciliation
    // report over 100 TB snapshots costs a co-located merge, not a
    // re-shuffle of both tables
    val dir = tmpDir("graft_bucketing3").toString
    val wh = new ParquetWarehouse(spark, dir)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val oldSnap = (1L to 5000L).map(i => (i, s"n$i", i * 1.5)).toDF("k", "name", "bal")
      val newSnap = oldSnap.where(col("k") % 97 =!= 0)
        .withColumn("bal", when(col("k") % 100 === 0, col("bal") + 1.0)
          .otherwise(col("bal")))
      wh.writeBucketed("graft_diff_old", oldSnap, "k", buckets = 4)
      wh.writeBucketed("graft_diff_new", newSnap, "k", buckets = 4)
      val diff = graft.ops.Diff.snapshotDiff(
        spark.table("graft_diff_old"), spark.table("graft_diff_new"), Seq("k"))
      val rows = diff.collect()
      val plan = diff.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free bucketed diff, got:\n$plan")
      // value check against the plain-frame diff
      val plain = graft.ops.Diff.snapshotDiff(oldSnap, newSnap, Seq("k"))
        .collect().map(_.toSeq).toSet
      assert(rows.map(_.toSeq).toSet == plain && plain.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_diff_old")
      spark.sql("DROP TABLE IF EXISTS graft_diff_new")
    }
  }

  test("bucketized facts: rank window plans without exchange, job output unchanged") {
    val dir = tmpDir("graft_bucketing2").toString
    val wh = new ParquetWarehouse(spark, dir)
    try {
      // tiny star warehouse: 1 study, 4 genes x 6 samples, complete
      wh.writeDim("dim_study", Seq((1L, "GSE1")).toDF("study_key", "gse_accession"))
      wh.writeDim("dim_gene",
        (1L to 4L).map(k => (k, s"ENSG$k")).toDF("gene_key", "ensembl_id"))
      wh.writeDim("dim_sample",
        (1L to 6L).map(k => (k, s"GSM$k", 1L, Option.empty[Long], Option.empty[Long],
          "UNKNOWN", "UNKNOWN"))
          .toDF("sample_key", "gsm_accession", "study_key", "platform_key",
            "illness_key", "age", "sex"))
      val facts = for { g <- 1L to 4L; s <- 1L to 6L } yield
        (s, g, 1L, (g * 7 + s * 3 % 5).toDouble)
      wh.append("fact_expression",
        facts.toDF("sample_key", "gene_key", "study_key", "expression_value"))

      def jobRows() = {
        assert(new CorrelationJob(spark, dir).run().pairs == 6)
        wh.read("fact_gene_pair_corr")
          .drop("computed_at") // differs per run by design
          .collect().map(_.toSeq).toSet
      }
      val before = jobRows()

      // a twin of fact_expression bucketed by gene_key, study-partitioned,
      // written beside it in the warehouse directory
      wh.writeBucketed("graft_b_facts", wh.read("fact_expression"), "gene_key", 4,
        Seq("study_key"))

      // the dense path's first shuffle: a rank window partitioned by
      // (study, gene). The bucketed scan is hash-partitioned on
      // gene_key — a subset of the window keys — so NO Exchange plans;
      // the plain parquet read must shuffle.
      val bucketed = spark.table("graft_b_facts")
      val rankedB = graft.stats.Ranks.fractionalRank(bucketed,
        Seq(col("study_key"), col("gene_key")), col("expression_value"), "r")
      rankedB.collect()
      val planB = rankedB.queryExecution.executedPlan.toString
      assert(!planB.contains("Exchange"),
        s"bucketed rank window should not shuffle:\n$planB")
      val rankedP = graft.stats.Ranks.fractionalRank(wh.read("fact_expression"),
        Seq(col("study_key"), col("gene_key")), col("expression_value"), "r")
      rankedP.collect()
      assert(rankedP.queryExecution.executedPlan.toString.contains("Exchange"))

      // the twin does not leak into the job's fact reads
      assert(jobRows() == before)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_b_facts")
    }
  }
}
