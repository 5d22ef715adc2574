package graft.ops

import graft.SparkSpec
import graft.functions.ZOrderMath
import org.apache.spark.sql.functions._

import java.nio.file.Files

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("interleave math: bijective on the grid, monotone per quadrant, SQL-callable") {
    // low bits weave correctly
    assert(ZOrderMath.interleave(0, 0) == 0L)
    assert(ZOrderMath.interleave(1, 0) == 1L)
    assert(ZOrderMath.interleave(0, 1) == 2L)
    assert(ZOrderMath.interleave(3, 3) == 15L)
    // bijectivity on a 64x64 grid: no two cells share a z-value
    val all = for (a <- 0 until 64; b <- 0 until 64) yield ZOrderMath.interleave(a, b)
    assert(all.distinct.size == 64 * 64)
    // the codegen expression equals the driver math
    val df = Seq((5, 9), (0, 0), (1023, 4095)).toDF("a", "b")
    val got = df.select(graft.functions.ZValueFn(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(got == Seq(ZOrderMath.interleave(5, 9), 0L, ZOrderMath.interleave(1023, 4095)))
  }

  test("z-ordered files cover compact 2-D tiles; a single-column sort leaves full-width stripes") {
    // square 64x64 bucket grid: 16 files of 256 cells each can tile
    // it as 16x16 squares — a rectangle with one narrow dimension
    // degenerates (the full narrow width IS the tile)
    val rows = for (x <- 0 until 64; y <- 0 until 64) yield (x, y, x * 64 + y)
    val df = rows.toDF("x", "y", "payload")
    val base = tmpDir("graft-zorder")
    val zDir = s"$base/z"
    val linDir = s"$base/lin"
    ZOrder.writeZOrdered(df, zDir, "x", "y", nFiles = 16)
    df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(linDir)

    def spans(dir: String): Seq[(Int, Int, Int, Int)] =
      new java.io.File(dir).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .toSeq.map { f =>
          val r = spark.read.parquet(f.getPath)
            .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head
          (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
        }

    val z = spans(zDir)
    val lin = spans(linDir)
    def ySpan(s: Seq[(Int, Int, Int, Int)]) = s.map { case (_, _, lo, hi) => hi - lo + 1 }
    // the x-only sort cannot narrow y: every file spans all 64 y values
    assert(ySpan(lin).forall(_ == 64), s"x-sorted y-spans: ${ySpan(lin)}")
    // z-order: most files cover a y-tile well under the full width, so
    // a predicate on y alone skips files (impossible under the x sort).
    // Range-partition boundaries split z-runs mid-tile, so demand the
    // MEDIAN tile be narrow rather than every tile perfect.
    val zy = ySpan(z).sorted
    assert(zy(zy.size / 2) <= 24,
      s"median z-file y-span ${zy(zy.size / 2)} of 64 — layout is not tiling: $zy")
    // and a y-range predicate demonstrably prunes: count files whose
    // stats admit y < 8
    val zAdmit = z.count { case (_, _, lo, _) => lo < 8 }
    assert(zAdmit < z.size,
      s"no z file is skippable for y<8 ($zAdmit of ${z.size} admit)")
    assert(lin.count { case (_, _, lo, _) => lo < 8 } == lin.size,
      "x-sorted layout should admit every file for y<8")
  }
}
