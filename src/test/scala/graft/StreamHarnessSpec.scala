package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming harness (`SparkEntry.drain`) leaves the session as it
  * found it, whether the stream succeeds or fails: the three confs it
  * scopes are back to their prior values (set or unset), no memory-sink
  * view remains, and no query is left running.
  */
class StreamHarnessSpec extends SparkSpec {

  private val partsKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val keys = Seq(partsKey, providerKey, noDataKey)

  /** Each key's explicitly set value, None when unset. */
  private def confState(): Map[String, Option[String]] = {
    val set = spark.conf.getAll
    keys.map(k => k -> set.get(k)).toMap
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private val root = tmpDir("graft-harness")
  private lazy val input: String = {
    val dir = root.resolve("in").toString
    spark.range(0, 40).select(col("id"), (col("id") % 4).as("k"))
      .coalesce(1).write.parquet(dir)
    dir
  }
  override def afterAll(): Unit =
    try org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
    finally super.afterAll()
  private def source: DataFrame =
    spark.readStream.schema(spark.read.parquet(input).schema).parquet(input)

  private val boom = udf((x: Long) => {
    if (x >= 0L) throw new IllegalStateException(s"planted failure at $x")
    x
  })

  /** Run one good and one failing drain in `mode` under the current
    * confs; assert both leave the session exactly as found.
    */
  private def checkRestores(mode: String): Unit = {
    val before = confState()
    val views = tempViews()
    // append mode admits no watermark-less aggregation: count its rows
    val out = if (mode == "append")
      SparkEntry.drain(spark, input, mode)(source).groupBy(col("k")).agg(count(lit(1)).as("n"))
    else SparkEntry.drain(spark, input, mode)(
      source.groupBy(col("k")).agg(count(lit(1)).as("n")))
    assert(out.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 4L).map(k => (k, 10L)), s"$mode drain returned the wrong rows")
    assert(confState() == before, s"$mode drain did not restore the confs")
    assert(tempViews() == views, s"$mode drain left a sink view behind")
    assert(spark.streams.active.isEmpty, s"$mode drain left a query running")

    val failing = if (mode == "append") source.select(col("k"), boom(col("id")).as("s"))
      else source.groupBy(col("k")).agg(sum(boom(col("id"))).as("s"))
    val e = intercept[Exception](SparkEntry.drain(spark, input, mode)(failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("planted failure")),
      s"the $mode drain failed for another reason: $e")
    assert(confState() == before, s"failing $mode drain did not restore the confs")
    assert(tempViews() == views, s"failing $mode drain left a sink view behind")
    assert(spark.streams.active.isEmpty, s"failing $mode drain left a query running")
  }

  for (mode <- Seq("update", "complete", "append")) {
    test(s"$mode drain restores unset confs and drops its sink, on success and failure") {
      val parts = spark.conf.get(partsKey)
      keys.foreach(spark.conf.unset)
      try checkRestores(mode)
      finally spark.conf.set(partsKey, parts)
    }

    test(s"$mode drain restores explicitly set confs, on success and failure") {
      val parts = spark.conf.get(partsKey)
      val provider = spark.conf.get(providerKey)
      spark.conf.set(partsKey, "3")
      spark.conf.set(providerKey, provider)
      spark.conf.set(noDataKey, "true")
      try checkRestores(mode)
      finally {
        spark.conf.set(partsKey, parts)
        spark.conf.unset(providerKey)
        spark.conf.unset(noDataKey)
      }
    }
  }
}
