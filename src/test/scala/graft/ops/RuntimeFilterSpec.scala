package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Runtime scan-reduction pins — the two optimizations that decide
  * whether a 100 TB star join reads the lake or a sliver of it:
  *
  *  - DYNAMIC PARTITION PRUNING: a selective dim-side predicate prunes
  *    fact partitions at RUNTIME (the dim filter's key set is not
  *    known at plan time). s13 pins the static case; DPP is the
  *    star-join case, where the partition predicate arrives through
  *    the join.
  *  - RUNTIME BLOOM FILTER: for joins where the big side is NOT
  *    partitioned by the key, Spark builds a bloom filter from the
  *    small side and semi-reduces the big side's shuffle input.
  *
  * Both are engagement pins in the AqeSkewSpec spirit: results-only
  * tests would pass with the optimizations silently off, and a conf
  * regression would quietly turn scans back into full-lake reads.
  */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  private def tmpPath(): String = tmpDir("graft-rtf").toString

  private def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions through the join") {
    val dir = tmpPath()
    // fact partitioned by the join key; dim carries the selective filter
    (0 until 20000).map(i => (i % 40, i.toLong, i * 1.5))
      .toDF("dim_key", "fact_id", "v")
      .write.mode("overwrite").partitionBy("dim_key").parquet(s"$dir/fact")
    (0 until 40).map(i => (i, if (i < 2) "keep" else s"drop$i"))
      .toDF("dim_key", "label")
      .write.mode("overwrite").parquet(s"$dir/dim")
    withConfs(Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      // the fact side must not broadcast; the dim side should
      "spark.sql.autoBroadcastJoinThreshold" -> "1048576")) {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").where(col("label") === "keep")
      val q = fact.join(dim, "dim_key").groupBy(col("label"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("s"))
      val rows = q.collect()
      assert(rows.map(_.getLong(1)).sum == 1000, "2 of 40 partitions hold 1000 rows")
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("dynamicpruningexpression"),
        s"fact scan is not dynamically pruned by the dim filter:\n$plan")
    }
  }

  test("runtime bloom filter: a selective small side semi-reduces the unpartitioned big side") {
    withConfs(Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // shrink the cluster-sized gates to test scale (defaults: the
      // application side must scan 10 GB before the filter pays)
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1024",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10485760",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      val dir = tmpPath()
      // the filter pushes toward a real scan — build both sides as files
      spark.range(0, 200000).select(col("id"),
        concat(lit("x" * 32), col("id")).as("payload"))
        .write.mode("overwrite").parquet(s"$dir/big")
      spark.range(0, 200000, 100).select(col("id"),
        when(col("id") % 1000 === 0, "keep").otherwise("other").as("label"))
        .write.mode("overwrite").parquet(s"$dir/small")
      val big = spark.read.parquet(s"$dir/big")
      // the SELECTIVE creation-side filter is what tells the optimizer
      // the key set shrank enough for a bloom to pay
      val small = spark.read.parquet(s"$dir/small").where(col("label") === "keep")
      val q = big.join(small.select("id"), "id")
      val n = q.collect().length
      assert(n == 200, s"got $n")
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"big side is not bloom-reduced before its shuffle:\n$plan")
    }
  }
}
