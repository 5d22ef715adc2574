package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def tablePath(): String = tmpDir("graft-compact").toString + "/t"

  test("compaction merges a many-small-files table losslessly to the byte-targeted count") {
    val dir = tablePath()
    // 40 single-row appends — the streaming-ingest worst case
    (1 to 40).foreach { i =>
      Seq((i.toLong, s"payload_$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir)
    val beforeRows = before.as[(Long, String)].collect().toSet
    assert(beforeRows.size == 40)

    val r = Compaction.compactParquetDir(spark, dir, targetBytes = Long.MaxValue)
    assert(r.filesBefore == 40)
    assert(r.requestedFiles == 1 && r.filesAfter == 1,
      s"byte total below one target must yield one file, got $r")
    // lossless: same rows, same values
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet == beforeRows)
    // no swap debris
    assert(!new java.io.File(dir + "__tmp").exists())
    assert(!new java.io.File(dir + "__old").exists())
  }

  test("compaction recovers a table stranded mid-swap, and a trailing slash cannot nest the swap dirs") {
    val dir = tablePath()
    (1 to 5).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    }
    // simulate a death between the two swap renames: only __old remains
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "__old")))
    // trailing slash exercises the path-normalization hazard at the
    // same time: __tmp/__old must be SIBLINGS of the table, never
    // children (a child __tmp rides away with the set-aside rename)
    val r = Compaction.compactParquetDir(spark, dir + "/", targetBytes = Long.MaxValue)
    assert(r.filesBefore == 5 && r.filesAfter == 1)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ==
      (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    assert(!new java.io.File(dir + "__old").exists())
    assert(!new java.io.File(dir + "__tmp").exists())
  }

  test("compaction SPLITS oversized inputs too: more output files than scan partitions") {
    val dir = tablePath()
    (0 until 2000).map(i => (i.toLong, "x" * 100)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val one = Compaction.compactParquetDir(spark, dir, targetBytes = Long.MaxValue)
    assert(one.filesAfter == 1)
    // now demand ~4 files from the single-file single-split input —
    // coalesce cannot do this; the split path must engage
    val r = Compaction.compactParquetDir(spark, dir, targetBytes = math.max(1L, one.bytes / 4))
    assert(r.filesAfter >= 3, s"split path did not engage: $r")
    assert(r.requestedFiles >= r.filesAfter,
      "requested is the target; actual can fall short on empty partitions, never exceed")
    assert(spark.read.parquet(dir).count() == 2000)
  }

  test("sorted compaction range-partitions and orders within files (stats-skipping layout)") {
    val dir = tablePath()
    (0 until 10).foreach { i =>
      (0 until 100).map(j => ((j * 37 + i) % 1000, s"r$i-$j"))
        .toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir).as[(Int, String)].collect().toSet
    val bytes = Compaction.compactParquetDir(spark, dir, targetBytes = Long.MaxValue).bytes
    // re-compact the now-single file into ~4 range-sorted files
    val r2 = Compaction.compactParquetDir(spark, dir,
      targetBytes = math.max(1L, bytes / 4), sortCols = Seq("k"))
    assert(r2.filesAfter >= 2, s"expected a multi-file range layout, got $r2")
    assert(spark.read.parquet(dir).as[(Int, String)].collect().toSet == before)
    // the range layout means per-file key spans are disjoint: the
    // global sortedness of (file-min) ranges is what row-group stats
    // skipping buys from — check spans do not overlap across files
    val fs = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val spans = fs.toSeq.map { f =>
      val d = spark.read.parquet(f.getPath).agg(min(col("k")), max(col("k"))).head
      (d.getInt(0), d.getInt(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file key spans overlap: $spans")
      case _ =>
    }
  }
}
