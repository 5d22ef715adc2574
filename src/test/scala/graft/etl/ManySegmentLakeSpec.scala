package graft.etl

import graft.SparkSpec
import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The 100k-segment design claim, measured at 5,001 segments: "a
  * takedown by key probes the touched segments, not the lake". s21
  * pins pruning at 4 segments; this spec scales the MANIFEST to
  * thousands of live segments (real parquet directories with their
  * TRUE footer-stamped stats — 50 Spark-written sources fs-copied 100x
  * each, stats preserved because the copies are byte-identical) and
  * pins that
  *  (a) manifest resolve + driver-side prune stays driver-cheap
  *      (milliseconds-class, no Spark job),
  *  (b) a point/range readWhere PLANS only the matching segment and a
  *      point deleteWhere LAUNCHES jobs only for it — O(matching),
  *      not O(lake),
  *  (c) the manifest file itself stays small and cheap to parse
  *      (numbers printed for BASELINE.md; compaction cadence is the
  *      operator lever long before any of this grows).
  */
class ManySegmentLakeSpec extends SparkSpec {
  import spark.implicits._


  test("5001-segment lake: driver-cheap prune, O(matching) probe jobs, bounded manifest cost") {
    val dir = tmpDir("graft-manyseg").toString
    // auto-compaction OFF: the point is to HOLD a many-segment table,
    // not to watch the engine fold it back to one segment
    val wh = new SnapshotWarehouse(spark, dir, autoCompactSegments = 0)
    val needleId = 9999999L
    // 50 real sources with disjoint id ranges + 1 needle segment, all
    // in ONE commit; stats stamped from their own footers
    wh.transact { txn =>
      (0 until 50).foreach { i =>
        txn.append("docs5k",
          (i * 1000L until i * 1000L + 10L).map(x => (x, x % 97))
            .toDF("doc_id", "n_chars"))
      }
      txn.append("docs5k",
        Seq((needleId, 7L)).toDF("doc_id", "n_chars"))
    }
    val m0 = wh.currentManifest()
    val srcSegs = m0.tables("docs5k")
    assert(srcSegs.size == 51)
    // fs-copy each non-needle source into 99 more segment directories;
    // each copy is byte-identical, so reusing the source's stamped
    // stats keeps every manifest entry TRUE of its files
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    val copies = srcSegs.filter(_.longBounds("doc_id")._1 != needleId)
      .flatMap { seg =>
        (1 until 100).map { k =>
          val rel = f"${seg.path}-c$k%03d"
          FileUtil.copy(fs, new HPath(s"$dir/${seg.path}"),
            fs, new HPath(s"$dir/$rel"), false, conf)
          seg.copy(path = rel)
        }
      }
    val big = SnapshotWarehouse.Manifest(m0.version + 1,
      m0.tables + ("docs5k" -> (srcSegs ++ copies)))
    Files.write(
      java.nio.file.Paths.get(dir, "_manifests", f"v${big.version}%08d.json"),
      SnapshotWarehouse.renderManifest(big)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // (c) manifest cost at 5,001 segments
    val mPath = java.nio.file.Paths.get(dir, "_manifests", f"v${big.version}%08d.json")
    val manifestKiB = Files.size(mPath) / 1024
    val tP0 = System.nanoTime()
    val m = wh.currentManifest()
    val parseMs = (System.nanoTime() - tP0) / 1e6
    assert(m.tables("docs5k").size == 5001)

    // (a) driver-side prune over all 5,001 segments — no Spark job
    val full = wh.fullSchema(m, "docs5k")
    val predE = wh.predExpression(col("doc_id") === needleId, full)
    val tR0 = System.nanoTime()
    val kept = m.tables("docs5k").filter(_.mayMatch(predE, full.fieldNames.toSeq))
    val pruneMs = (System.nanoTime() - tR0) / 1e6
    assert(kept.size == 1, s"point predicate must keep exactly the needle, got ${kept.size}")
    assert(pruneMs < 2000.0, f"prune over 5001 segments took $pruneMs%.0f ms")
    assert(parseMs < 2000.0, f"manifest parse took $parseMs%.0f ms")

    // the tail's poll is manifest metadata too: verifying a
    // pure-append window across all 5,001 segments (the LakeTail
    // consumer's per-poll cost on a big lake) stays driver-cheap
    val tA0 = System.nanoTime()
    val appended = wh.appendedSegments("docs5k", 0L, big.version)
    val appendCheckMs = (System.nanoTime() - tA0) / 1e6
    assert(appended.size == 5001)
    assert(appendCheckMs < 2000.0,
      f"pure-append verification over 5001 segments took $appendCheckMs%.0f ms")

    // (b) the planned read carries ONLY the needle segment (+ seed)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val point = wh.readWhere("docs5k", col("doc_id") === needleId)
    assert(point.queryExecution.analyzed.collectLeaves().size == 2,
      "point readWhere must plan 1 segment + the seed frame")
    assert(point.count() == 1L)
    // a RANGE probe over one source family keeps its 100 copies only
    val range = wh.readWhere("docs5k",
      col("doc_id") >= 7000L && col("doc_id") < 7010L)
    assert(range.queryExecution.analyzed.collectLeaves().size == 101,
      "range readWhere must plan the 100 matching copies + seed")
    spark.sparkContext.addSparkListener(listener)
    val (delJobs, deleted) =
      try {
        val n = wh.deleteWhere("docs5k", col("doc_id") === needleId)
        Thread.sleep(300) // listener bus settle (see stats-pruning spec)
        (jobs.get(), n)
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(deleted == 1L)
    assert(delJobs <= 4,
      s"point deleteWhere on a 5001-segment lake must stay O(matching): saw $delJobs jobs")
    assert(wh.currentManifest().tables("docs5k").size == 5000)

    println(f"MANYSEG segments=5001 manifest=${manifestKiB} KiB parse=$parseMs%.1f ms " +
      f"prune=$pruneMs%.1f ms append_check=$appendCheckMs%.1f ms " +
      f"point_leaves=2 range_leaves=101 delete_jobs=$delJobs deleted=$deleted")
  }
}
