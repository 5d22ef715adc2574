package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp

/** Structured Streaming specs driven by MemoryStream so each trigger is
  * deterministic (no wall-clock dependence except the explicitly-noted
  * processing-time session timeout, which is not exercised here).
  */
class StreamingSpec extends SparkSpec {
  import EventStreams._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("hourlyCounts: streaming tumbling window equals batch agg after all data arrives") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val source = MemoryStream[Event]
    val events = Seq(
      Event(1L, ts(0), 1L, "click", 1.0),
      Event(2L, ts(10), 1L, "click", 2.0),
      Event(3L, ts(20), 2L, "view", 4.0),
      Event(4L, ts(59), 2L, "click", 8.0))
    source.addData(events: _*)

    val q = hourlyCounts(source.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val got = s.table("hourly")
        .select("hour", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val expected = events.toDF()
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got == expected)
      assert(got.map(_._1).forall(_ == Timestamp.valueOf("2026-01-01 10:00:00")))
    } finally q.stop()
  }

  test("hourlyCounts: watermark closes old windows (late row beyond 1h is dropped)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val source = MemoryStream[Event]
    val q = hourlyCounts(source.toDF())
      .writeStream.format("memory").queryName("hourly_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: one row at 10:00; batch 2 advances event time to 13:00,
      // moving the watermark (13:00 - 1h = 12:00) past the 10:00 window.
      source.addData(Event(1L, ts(0), 1L, "click", 1.0))
      q.processAllAvailable()
      source.addData(Event(2L, Timestamp.valueOf("2026-01-01 13:00:00"), 1L, "click", 2.0))
      q.processAllAvailable()
      // batch 3: a late arrival for the already-closed 10:00 window.
      source.addData(Event(3L, ts(30), 1L, "click", 64.0))
      q.processAllAvailable()
      val rows = s.table("hourly_wm")
        .select("hour", "n_events", "sum_value")
        .as[(Timestamp, Long, Double)].collect()
        .map { case (h, n, v) => (h.toString, (n, v)) }.toMap
      // Append mode emits a window only once it is closed by the
      // watermark: the 10:00 window must show only the on-time row.
      assert(rows("2026-01-01 10:00:00.0") == ((1L, 1.0)))
      assert(!rows.contains("2026-01-01 13:00:00.0")) // still open
    } finally q.stop()
  }

  test("sessionize: event-time gaps close sessions across and within batches (Append)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val source = MemoryStream[Event]
    val q = sessionize(source.toDS(), gapMinutes = 30,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: an open session for u7 — nothing may be emitted yet
      source.addData(Event(1L, ts(0), 7L, "click", 1.0), Event(2L, ts(5), 7L, "view", 2.0))
      q.processAllAvailable()
      assert(s.table("sessions").count() == 0)
      // batch 2: u7 event 5 hours later closes the first session (gap
      // split across batches); u9 opens its own
      source.addData(
        Event(3L, Timestamp.valueOf("2026-01-01 15:00:00"), 7L, "click", 4.0),
        Event(4L, ts(1), 9L, "view", 8.0))
      q.processAllAvailable()
      val closed1 = s.table("sessions")
        .select("user_id", "n_events", "sum_value", "duration_ms")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(closed1 == Set((7L, 2L, 3.0, 5L * 60 * 1000)))
      // batch 3: u9 gets two events in ONE batch separated by > gap —
      // the intra-batch gap closes the session containing event 4
      source.addData(
        Event(5L, Timestamp.valueOf("2026-01-01 11:00:00"), 9L, "view", 16.0),
        Event(6L, Timestamp.valueOf("2026-01-01 12:00:00"), 9L, "view", 32.0))
      q.processAllAvailable()
      val closed2 = s.table("sessions")
        .select("user_id", "n_events", "sum_value", "duration_ms")
        .as[(Long, Long, Double, Long)].collect().toSet
      // u9: 10:01 -> 11:00 (59 min) splits, 11:00 -> 12:00 splits too;
      // the 12:00 session stays open (nothing emitted for it)
      assert(closed2 == Set(
        (7L, 2L, 3.0, 5L * 60 * 1000),
        (9L, 1L, 8.0, 0L),
        (9L, 1L, 16.0, 0L)))
    } finally q.stop()
  }

  test("sessionizeNs: per-user session_seq continues across batches; start_us truncates ns") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val gapNs = 30L * 60 * 1000000000L
    val base = 1767225600L * 1000000000L + 1234 // ns with sub-us component
    val source = MemoryStream[EventNs]
    val q = sessionizeNs(source.toDS(), gapNs,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions_ns")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: session 1 closed by an intra-batch gap; session 2 open
      source.addData(EventNs(1L, base, 7L, 1.0), EventNs(2L, base + 2 * gapNs, 7L, 2.0))
      q.processAllAvailable()
      // batch 2: a third event beyond the gap closes session 2 (seq
      // carried in state across the batch boundary)
      source.addData(EventNs(3L, base + 4 * gapNs, 7L, 4.0))
      q.processAllAvailable()
      val rows = s.table("sessions_ns")
        .select("user_id", "session_seq", "n_events", "session_start_us")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows == Set(
        (7L, 1L, 1L, base / 1000),
        (7L, 2L, 1L, (base + 2 * gapNs) / 1000)))
    } finally q.stop()
  }

  test("sessionizeNs: cross-batch out-of-order event fails loudly, not silently") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val gapNs = 30L * 60 * 1000000000L
    val base = 1767225600L * 1000000000L
    val source = MemoryStream[EventNs]
    val q = sessionizeNs(source.toDS(), gapNs,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory")
      .queryName("sessions_disorder")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(EventNs(1L, base + gapNs, 7L, 1.0))
      q.processAllAvailable()
      // batch 2 delivers an event OLDER than the carried state —
      // the ordering contract (Scaladoc) is violated; the query must
      // surface the IllegalStateException instead of merging wrong
      source.addData(EventNs(2L, base, 7L, 2.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(e => e +: causes(e.getCause))
      assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("out-of-order event across micro-batches")))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched rows emit nulls only after the watermark closes their window") {
    // x9 pins the inner form; the outer form is the alerting shape
    // ("errors with NO click nearby") and has the subtle semantics
    // worth pinning: an unmatched left row CANNOT emit when observed —
    // a match may still arrive — so Spark holds it in state and emits
    // the null-extended row only once the watermark proves the join
    // window empty. A test that only checked the final set would pass
    // on an engine that emits nulls eagerly (and double-emits on a
    // late match); the mid-stream assertion is the contract.
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val left = MemoryStream[Event]
    val right = MemoryStream[Event]
    val l = left.toDF().select(col("event_id").as("l_id"),
      col("user_id").as("l_user"), col("ts").as("l_ts"))
      .withWatermark("l_ts", "0 seconds")
    val r = right.toDF().select(col("event_id").as("r_id"),
      col("user_id").as("r_user"), col("ts").as("r_ts"))
      .withWatermark("r_ts", "0 seconds")
    val joined = l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr("INTERVAL 5 MINUTES") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 5 MINUTES"),
      "left_outer")
      .select(col("l_id"), col("r_id"))
    val q = joined.writeStream.format("memory").queryName("outer_join")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1 has a click within +/-5 min; user 2 has nothing
      left.addData(Event(1L, ts(0), 1L, "error", 1.0), Event(2L, ts(0), 2L, "error", 1.0))
      right.addData(Event(10L, ts(2), 1L, "click", 1.0))
      q.processAllAvailable()
      val mid = s.table("outer_join").as[(Long, Option[Long])].collect().toSet
      assert(mid == Set((1L, Some(10L))),
        s"only the inner match may emit before the watermark closes: $mid")
      // advance BOTH watermarks past 10:05 so user 2's window is
      // provably empty (the 11:00 pair also inner-joins)
      left.addData(Event(3L, Timestamp.valueOf("2026-01-01 11:00:00"), 3L, "error", 1.0))
      right.addData(Event(11L, Timestamp.valueOf("2026-01-01 11:00:00"), 3L, "click", 1.0))
      q.processAllAvailable()
      q.processAllAvailable() // second cycle: eviction emits trail the batch that advanced the watermark
      val fin = s.table("outer_join").as[(Long, Option[Long])].collect().toSet
      assert(fin == Set((1L, Some(10L)), (3L, Some(11L)), (2L, None)),
        s"watermark close must release exactly the unmatched row: $fin")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: bounded-state streaming dedup — dups inside the horizon drop, state evicts past it") {
    // p16's complete-mode digest aggregation keeps EVERY key's state
    // forever — correct for a bounded backlog, unbounded on a firehose.
    // The production-bounded form trades global dedup for a watermark
    // horizon: duplicates arriving within the delay are dropped, state
    // older than the watermark is evicted (so a re-arrival AFTER
    // eviction re-emits — the documented, deliberate trade, pinned
    // here so nobody mistakes it for global dedup).
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val source = MemoryStream[Event]
    val q = source.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: first sight of id=1 emits; same-id duplicate in the
      // same batch is dropped
      source.addData(
        Event(1L, ts(0), 1L, "click", 1.0),
        Event(1L, ts(5), 9L, "click", 1.0))
      q.processAllAvailable()
      // batch 2: id=1 again, still within the 10-min horizon — dropped
      source.addData(Event(1L, ts(8), 8L, "click", 1.0))
      q.processAllAvailable()
      val afterNear = s.table("dedup_wm").as[(Long, Long)].collect().toSeq
      assert(afterNear == Seq((1L, 1L)),
        s"within-horizon duplicates must drop, got $afterNear")
      // batch 3: advance event time far past the horizon so id=1's
      // state evicts; batch 4: id=1 re-arrives AFTER eviction — it
      // re-emits, proving state is bounded by the watermark, not global
      source.addData(Event(2L, Timestamp.valueOf("2026-01-01 12:00:00"), 2L, "view", 1.0))
      q.processAllAvailable()
      source.addData(Event(1L, Timestamp.valueOf("2026-01-01 12:01:00"), 3L, "click", 1.0))
      q.processAllAvailable()
      val ids = s.table("dedup_wm").as[(Long, Long)].collect().toSeq.sorted
      assert(ids == Seq((1L, 1L), (1L, 3L), (2L, 2L)),
        s"post-eviction re-arrival must re-emit (bounded state), got $ids")
    } finally q.stop()
  }

  test("state-partition sizing falls back to cores when the input cannot be sized") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1, "the fallback is only distinguishable from 1 with several cores")
    val missing = tmpDir("graft-sizing")
      .resolve("no-such-input.parquet").toString
    assert(graft.SparkEntry.streamStateParts(spark, missing) == cores)
    // a readable small input still sizes down to one partition
    val small = tmpDir("graft-sizing").resolve("small.parquet")
    java.nio.file.Files.writeString(small, "x" * 1024)
    assert(graft.SparkEntry.streamStateParts(spark, small.toString) == 1)
  }

  test("state-partition sizing reads a file:// URI through the Hadoop FileSystem") {
    assert(spark.sparkContext.defaultParallelism > 1,
      "a sizing fallback (cores) is only distinguishable from 1 with several cores")
    val dir = tmpDir("graft-sizing-uri")
    java.nio.file.Files.writeString(dir.resolve("part-0.parquet"), "x" * 1024)
    java.nio.file.Files.writeString(dir.resolve("part-1.parquet"), "y" * 1024)
    // a few KB of input sizes to one partition; an unsized input would
    // fall back to cores
    assert(graft.SparkEntry.streamStateParts(spark, dir.toUri.toString) == 1)
    assert(graft.SparkEntry.streamStateParts(spark,
      dir.resolve("part-0.parquet").toUri.toString) == 1)
  }
}
