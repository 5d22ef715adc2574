package graft.streaming

import graft.SparkSpec
import graft.ops.Evaluation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** Checkpoint RESTART for the RocksDB monitor family (round 13).
  *
  * WatermarkEvictionSpec proves eviction and drained==batch within a
  * single session; this spec proves the other production property: a
  * monitor STOPPED mid-stream resumes from its checkpoint with
  *   (1) source offsets intact — already-processed files are not
  *       re-read (a re-read would re-emit closed windows and double
  *       the boundary window), and
  *   (2) RocksDB aggregation state intact — a window whose rows SPAN
  *       the stop/restart boundary finishes with the cumulative count,
  *       which is only possible if the first run's state rows were
  *       recovered from the checkpoint by the second run.
  * The aggregation is the SHIPPED x31 monitor definition
  * (Evaluation.windowedAgreementCounts, 256 s windows / 64 s
  * lateness), so the measurement transfers to the monitor queries.
  */
class CheckpointRestartSpec extends SparkSpec {

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDb[T](body: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("keep_a", LongType),
    StructField("keep_b", LongType), StructField("event_ts", TimestampType)))

  private def rows(ids: Range, tsBase: Long): Seq[Row] =
    ids.map(i => Row(i.toLong, i.toLong % 2, (i.toLong + 1) % 2,
      new java.sql.Timestamp((tsBase + (i - ids.start) * 10L) * 1000L))).toSeq

  /** Land `data` as one new file in the streaming source directory. */
  private def land(srcDir: java.nio.file.Path, name: String, data: Seq[Row]): Unit = {
    val tmp = tmpDir("graft-restart-stage")
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    java.nio.file.Files.move(part, srcDir.resolve(name))
  }

  test("x31 monitor restarts from its checkpoint: offsets and RocksDB window state both survive the stop") {
    val root = tmpDir("graft-restart")
    val srcDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val ckpt = root.resolve("ckpt").toString
    // w0 = [0, 256): closed well before the restart
    val a0 = rows(0 until 8, tsBase = 0L)
    // w4 = [1024, 1280): 4 rows now, 4 more AFTER the restart — the
    // boundary window whose cumulative count proves state recovery
    val a1 = rows(100 until 104, tsBase = 1030L)
    val b0 = rows(200 until 204, tsBase = 1100L)
    // w8 = [2048, 2304): advances the watermark past w4's end
    val b1 = rows(300 until 302, tsBase = 2060L)

    val emissions = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
    def drain(runLabel: String): Seq[(Long, Long, Long, Long, Long)] = {
      val before = emissions.size
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q = Evaluation.windowedAgreementCounts(stream)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          val got = df.select(unix_timestamp(col("w.start")), col("n_docs"),
            col("n_agree"), col("n_keep_a"), col("n_keep_b")).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          emissions.synchronized { emissions ++= got }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      emissions.synchronized { emissions.drop(before).toSeq }
    }

    withRocksDb {
      land(srcDir, "a.parquet", a0 ++ a1)
      val run1 = drain("run1")
      // run 1 saw w4 with its first 4 rows
      assert(run1.exists(e => e._1 == 1024L && e._2 == 4L),
        s"run1 should emit w4 with 4 docs: $run1")
      // the monitor stops here (the query above already terminated and
      // was stopped — a dead JVM looks the same to the checkpoint);
      // more data lands while it is down
      land(srcDir, "b.parquet", b0 ++ b1)
      val run2 = drain("run2")
      // offsets survived: the closed w0 is NOT re-emitted (a restart
      // that re-read a.parquet would emit it again and double w4)
      assert(!run2.exists(_._1 == 0L),
        s"run2 re-emitted window 0 — checkpoint offsets were not honored: $run2")
      // RocksDB state survived: w4 finishes CUMULATIVE (4 + 4), not
      // restarted-from-zero
      assert(run2.exists(e => e._1 == 1024L && e._2 == 8L),
        s"run2 should emit w4 with the cumulative 8 docs: $run2")
      // and the drained union across both runs equals the batch twin
      val all = emissions.synchronized { emissions.toSeq }
      val drained = Evaluation.drainLatestWindowCounts(
        spark.createDataFrame(
          spark.sparkContext.parallelize(all.map { case (ws, d, ag, ka, kb) =>
            Row(Row(new java.sql.Timestamp(ws * 1000L),
              new java.sql.Timestamp((ws + 256L) * 1000L)), d, ag, ka, kb) }, 1),
          StructType(Seq(
            StructField("w", StructType(Seq(
              StructField("start", TimestampType), StructField("end", TimestampType)))),
            StructField("n_docs", LongType), StructField("n_agree", LongType),
            StructField("n_keep_a", LongType), StructField("n_keep_b", LongType)))))
        .select(unix_timestamp(col("w.start")), col("n_docs"), col("n_agree"),
          col("n_keep_a"), col("n_keep_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = Evaluation.windowedAgreementCounts(
        spark.createDataFrame(
          spark.sparkContext.parallelize(a0 ++ a1 ++ b0 ++ b1, 2), schema))
        .select(unix_timestamp(col("w.start")), col("n_docs"), col("n_agree"),
          col("n_keep_a"), col("n_keep_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(drained == batch, s"drained $drained != batch $batch")
    }
  }
}
