package graft.streaming

import graft.SparkSpec
import graft.etl.JdbcWarehouse
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Exactly-once contract of the streaming JDBC sink: incremental
  * delivery across restarts, and idempotent micro-batch replay —
  * including replay over a PARTIAL write from a crashed attempt, the
  * window where a plain append sink double-counts.
  */
class StreamingWarehouseSinkSpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home", tmpDir("graft-stream-wh").toString)

  private def derbyUrl(): String = s"jdbc:derby:${tmpDir("graft-stream-wh")}/wh;create=true"

  private def facts(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, i.toLong % 7, 1L, i * 1.5)).toDF(
      "sample_key", "gene_key", "study_key", "expression_value")

  private def readBack(url: String): Set[(Long, Double, Long)] = {
    spark.read.format("jdbc").option("url", url)
      .option("dbtable", "fact_stream").load()
      .select("sample_key", "expression_value", "batch_id")
      .as[(Long, Double, Long)].collect().toSet
  }

  test("AvailableNow ingest is exactly-once across a checkpoint restart with new data") {
    val url = derbyUrl()
    val wh = new JdbcWarehouse(spark, url, maxRetries = 1, retryBackoffSeconds = 0)
    val src = tmpDir("graft-stream-wh")
    val ckpt = tmpDir("graft-stream-wh").toString
    val schema = facts(0 until 0).schema

    facts(0 until 20).coalesce(1).write.mode("append").parquet(src.toString)
    StreamingWarehouseSink.ingestAvailable(
      spark.readStream.schema(schema).parquet(src.toString), wh, "fact_stream", ckpt)
    val first = readBack(url)
    assert(first.map(_._1) == (0 until 20).map(_.toLong).toSet)

    // second arrival, SAME checkpoint: only the new rows land, batch id
    // advances, nothing from batch 0 is re-written
    facts(20 until 30).coalesce(1).write.mode("append").parquet(src.toString)
    StreamingWarehouseSink.ingestAvailable(
      spark.readStream.schema(schema).parquet(src.toString), wh, "fact_stream", ckpt)
    val second = readBack(url)
    assert(second.map(_._1) == (0 until 30).map(_.toLong).toSet)
    assert(second.count(_._3 == 0L) == 20 && second.count(_._3 > 0L) == 10)
    // value integrity, not only counts
    assert(second.forall { case (k, v, _) => v == k * 1.5 })
  }

  test("intra-batch task-retry duplicates in the stage never reach the live table") {
    // the failure class a bare delete-then-append cannot survive: a
    // task's JDBC transaction commits, the executor dies before
    // reporting, Spark re-runs the task in the SAME batch attempt —
    // its partition lands twice in the stage. The transactional
    // promote's DISTINCT must collapse it (and the create-on-first-
    // batch CTAS path is exercised, since the live table doesn't
    // exist yet).
    val url = derbyUrl()
    val wh = new JdbcWarehouse(spark, url, maxRetries = 1, retryBackoffSeconds = 0)
    val rows = facts(0 until 5).withColumn("batch_id", lit(0L))
    wh.append("fact_stream__stage", rows)          // the original tasks
    wh.append("fact_stream__stage", rows.limit(2)) // the retried partition, doubled
    wh.promoteStage("fact_stream__stage", "fact_stream", 0L, rows.columns.toSeq)
    val live = readBack(url)
    assert(live.map(_._1) == (0 until 5).map(_.toLong).toSet,
      s"stage duplicates leaked into the live table: $live")
    assert(live.size == 5)
  }

  test("legitimately duplicate rows in one batch survive the promote (row_seq disambiguates)") {
    // the data-loss hazard of a bare DISTINCT: two IDENTICAL events in
    // one micro-batch are both real. batchWriter's deterministic
    // row_seq makes them distinct rows, so only task-retry copies
    // collapse.
    val url = derbyUrl()
    val wh = new JdbcWarehouse(spark, url, maxRetries = 1, retryBackoffSeconds = 0)
    val writer = StreamingWarehouseSink.batchWriter(wh, "fact_stream")
    val dup = facts(0 until 1)
    def liveCount(): Long = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "fact_stream").load().count()
    writer(dup.unionByName(dup), 0L) // the same fact row twice, both real
    assert(liveCount() == 2,
      "a real duplicate event was silently collapsed by the promote")
    // and a verbatim replay still cannot double it
    writer(dup.unionByName(dup), 0L)
    assert(liveCount() == 2)
  }

  test("stampBatch plans no unpartitioned window — the stamp never funnels the batch into one task") {
    val stamped = StreamingWarehouseSink.stampBatch(facts(0 until 100), 7L)
    val windows = stamped.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "row_seq stamp lost its window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"row_seq window has no partition spec — single-task funnel:\n$w")
    }
    // determinism across replans: the stamped OUTPUT SET is stable
    val a = stamped.collect().map(_.toSeq).toSet
    val b = StreamingWarehouseSink.stampBatch(facts(0 until 100), 7L)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    // each distinct row gets seq >= 1; byte-identical duplicates get
    // distinct consecutive seqs
    val dupStamped = StreamingWarehouseSink
      .stampBatch(facts(0 until 1).unionByName(facts(0 until 1)), 0L)
      .select("row_seq").as[Long].collect().sorted.toSeq
    assert(dupStamped == Seq(1L, 2L))
  }

  test("micro-batch replay is idempotent, even over a crashed attempt's partial write") {
    val url = derbyUrl()
    val wh = new JdbcWarehouse(spark, url, maxRetries = 1, retryBackoffSeconds = 0)
    val writer = StreamingWarehouseSink.batchWriter(wh, "fact_stream")

    writer(facts(0 until 10), 0L)
    // crash window 1: the whole batch landed but the streaming commit
    // did not — the engine replays batch 0 verbatim
    writer(facts(0 until 10), 0L)
    assert(readBack(url).count(_._3 == 0L) == 10, "full-write replay duplicated rows")

    // crash window 2: only PART of batch 1 landed (executor died mid
    // append) — replay must clear the partial before appending
    wh.append("fact_stream", facts(10 until 13)
      .withColumn("batch_id", lit(1L))
      .withColumn("row_seq", col("sample_key") - 9L))
    writer(facts(10 until 20), 1L)
    val b1 = readBack(url).filter(_._3 == 1L)
    assert(b1.map(_._1) == (10 until 20).map(_.toLong).toSet,
      s"partial-write replay left wrong rows: ${b1.map(_._1).toSeq.sorted}")
    assert(readBack(url).size == 20)
  }
}
