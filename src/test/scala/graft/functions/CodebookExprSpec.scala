package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The compact codebook expressions ([[TopKCentroidEntries]],
  * [[NearestL2Entry]]) against the unrolled `sort_array(array(struct
  * ...))` forms they replace, evaluated interpreted and through
  * generated code, plus their content-based equality: equal codebooks
  * built separately are `semanticEquals` and hash alike.
  */
class CodebookExprSpec extends SparkSpec {
  import spark.implicits._

  private type Entries = Seq[(Double, Int)]

  private val vecRef = BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true)
  private val nrmRef = BoundReference(1, DoubleType, nullable = true)

  private def input(v: Seq[Double], nrm: Double): InternalRow =
    InternalRow(new GenericArrayData(v.toArray[Any]), nrm)

  private def entry(s: InternalRow): (Double, Int) = (s.getDouble(0), s.getInt(1))

  private def entries(a: ArrayData): Entries =
    (0 until a.numElements()).map(i => entry(a.getStruct(i, 2)))

  /** Doubles compare by `java.lang.Double.compare`: NaN equals NaN,
    * -0.0 differs from 0.0 — the outputs must be bit-identical.
    */
  private def assertSame(got: Entries, want: Entries, what: String): Unit =
    assert(got.length == want.length &&
      got.zip(want).forall { case ((d1, c1), (d2, c2)) =>
        java.lang.Double.compare(d1, d2) == 0 && c1 == c2 },
      s"$what: got $got, want $want")

  /** Interpreted `eval` and a generated projection of the same
    * expression, on one input row.
    */
  private def bothModes(e: Expression, row: InternalRow): (InternalRow, InternalRow) = {
    val interpreted = InternalRow(e.eval(row))
    val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(row).copy()
    (interpreted, generated)
  }

  private def codebook(cb: (Int, Seq[Double])*): Seq[(Int, Seq[Double], Double)] =
    cb.map { case (cid, c) => (cid, c, math.sqrt(c.map(x => x * x).sum)) }

  /** The unrolled form [[TopKCentroidEntries]] replaces, run by Spark. */
  private def unrolledTopK(v: Seq[Double], nrm: Double,
      cb: Seq[(Int, Seq[Double], Double)], k: Int): Entries = {
    val structs = cb.map { case (cid, c, cn) =>
      struct(((VectorMath.dot(col("v"), typedLit(c)) / (col("nrm") * lit(cn))) * -1.0 + 0.0).as("ns"),
        lit(cid).as("cid"))
    }
    Seq((v, nrm)).toDF("v", "nrm")
      .select(slice(sort_array(array(structs: _*)), 1, k))
      .head().getSeq[Row](0).map(r => (r.getDouble(0), r.getInt(1)))
  }

  private def topK(cb: Seq[(Int, Seq[Double], Double)], k: Int): TopKCentroidEntries =
    TopKCentroidEntries(vecRef, nrmRef, cb.map(_._2.toArray).toArray,
      cb.map(_._3).toArray, cb.map(_._1).toArray, k)

  private def checkTopK(v: Seq[Double], cb: Seq[(Int, Seq[Double], Double)], k: Int,
      what: String): Entries = {
    val nrm = math.sqrt(v.map(x => x * x).sum)
    val want = unrolledTopK(v, nrm, cb, k)
    val (interpreted, generated) = bothModes(topK(cb, k), input(v, nrm))
    assertSame(entries(interpreted.getArray(0)), want, s"$what (interpreted)")
    assertSame(entries(generated.getArray(0)), want, s"$what (codegen)")
    want
  }

  test("top-k centroids: ties by cid, NaN, k > C, k < C and C = 1 match the unrolled sort, interpreted and codegen") {
    // cids 7 and 3 share a centroid: their scores tie and the lower
    // cid must come first, ahead of the farther cid 5
    val ties = codebook(7 -> Seq(1.0, 0.0), 5 -> Seq(0.0, 1.0), 3 -> Seq(1.0, 0.0))
    assert(checkTopK(Seq(2.0, 1.0), ties, 3, "ties").map(_._2) == Seq(3, 7, 5))
    assert(checkTopK(Seq(2.0, 1.0), ties, 2, "k < C").map(_._2) == Seq(3, 7))
    assert(checkTopK(Seq(2.0, 1.0), ties, 5, "k > C").map(_._2) == Seq(3, 7, 5))
    assert(checkTopK(Seq(2.0, 1.0), codebook(9 -> Seq(0.5, 0.5)), 1, "C = 1").map(_._2) == Seq(9))
    assert(checkTopK(Seq(2.0, 1.0), codebook(9 -> Seq(0.5, 0.5)), 3, "C = 1, k > C").map(_._2) == Seq(9))

    // a NaN centroid scores NaN, which sorts last; a NaN input scores
    // NaN everywhere, so every entry ties and cid decides
    val withNaN = codebook(4 -> Seq(1.0, Double.NaN), 8 -> Seq(1.0, 0.0), 6 -> Seq(0.0, 1.0))
    val nanCentroid = checkTopK(Seq(2.0, 1.0), withNaN, 3, "NaN centroid")
    assert(nanCentroid.map(_._2) == Seq(8, 6, 4) && nanCentroid.last._1.isNaN)
    val v = Seq(Double.NaN, 1.0)
    val want = unrolledTopK(v, 1.0, withNaN, 2)
    val (interpreted, generated) = bothModes(topK(withNaN, 2), input(v, 1.0))
    assertSame(entries(interpreted.getArray(0)), want, "NaN input (interpreted)")
    assertSame(entries(generated.getArray(0)), want, "NaN input (codegen)")
    assert(want.map(_._2) == Seq(4, 6) && want.forall(_._1.isNaN))
  }

  /** The unrolled form [[NearestL2Entry]] replaces, run by Spark. */
  private def unrolledNearest(v: Seq[Double], cb: Seq[(Int, Seq[Double])]): (Double, Int) = {
    val structs = cb.map { case (cid, c) =>
      struct(VectorMath.l2sq(col("v"), typedLit(c)).as("d"), lit(cid).as("cid"))
    }
    val r = Seq(Tuple1(v)).toDF("v").select(sort_array(array(structs: _*)).getItem(0))
      .head().getStruct(0)
    (r.getDouble(0), r.getInt(1))
  }

  private def nearest(cb: Seq[(Int, Seq[Double])]): NearestL2Entry =
    NearestL2Entry(vecRef, cb.map(_._2.toArray).toArray, cb.map(_._1).toArray)

  private def checkNearest(v: Seq[Double], cb: Seq[(Int, Seq[Double])], what: String): (Double, Int) = {
    val want = unrolledNearest(v, cb)
    val (interpreted, generated) = bothModes(nearest(cb), input(v, 0.0))
    assertSame(Seq(entry(interpreted.getStruct(0, 2))), Seq(want), s"$what (interpreted)")
    assertSame(Seq(entry(generated.getStruct(0, 2))), Seq(want), s"$what (codegen)")
    want
  }

  test("nearest L2 centroid: ties by cid, NaN and C = 1 match the unrolled sort, interpreted and codegen") {
    val ties = Seq(7 -> Seq(1.0, 0.0), 5 -> Seq(3.0, 3.0), 3 -> Seq(1.0, 0.0))
    assert(checkNearest(Seq(1.0, 1.0), ties, "ties")._2 == 3)
    assert(checkNearest(Seq(1.0, 1.0), Seq(9 -> Seq(4.0, 4.0)), "C = 1") == ((18.0, 9)))
    // a NaN centroid is never nearest; a NaN input ties every entry
    val withNaN = Seq(2 -> Seq(Double.NaN, 0.0), 8 -> Seq(1.0, 1.0), 6 -> Seq(5.0, 5.0))
    assert(checkNearest(Seq(1.0, 1.0), withNaN, "NaN centroid") == ((0.0, 8)))
    val nanInput = checkNearest(Seq(Double.NaN, 1.0), withNaN, "NaN input")
    assert(nanInput._1.isNaN && nanInput._2 == 2)
  }

  test("equal codebooks built separately are semanticEquals and hash alike; any difference is not") {
    val cb = codebook(1 -> Seq(1.0, 0.0), 2 -> Seq(0.0, 1.0), 3 -> Seq(0.6, 0.8))
    val a = topK(cb, 2)
    val b = topK(cb.map { case (cid, c, cn) => (cid, c.map(identity), cn) }, 2)
    assert(a.cents ne b.cents)
    assert(a == b && a.hashCode == b.hashCode && a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(a != topK(cb, 3))
    assert(a != topK(cb.updated(2, (3, Seq(0.6, 0.8000001), 1.0)), 2))
    assert(a != topK(cb.map { case (cid, c, cn) => (cid + 1, c, cn) }, 2))
    assert(!a.semanticEquals(TopKCentroidEntries(nrmRef, vecRef, a.cents, a.cnorms, a.cids, 2)))

    val l2 = Seq(1 -> Seq(1.0, Double.NaN), 2 -> Seq(-0.0, 1.0))
    val n1 = nearest(l2)
    val n2 = nearest(l2.map { case (cid, c) => (cid, c.map(identity)) })
    assert(n1.cents ne n2.cents)
    assert(n1 == n2 && n1.hashCode == n2.hashCode && n1.semanticEquals(n2))
    assert(n1 != nearest(Seq(1 -> Seq(1.0, Double.NaN), 2 -> Seq(0.0, 1.0))), "-0.0 and 0.0 differ")
    assert(n1 != nearest(Seq(1 -> Seq(1.0, Double.NaN), 3 -> Seq(-0.0, 1.0))))

    // the same plan over two separate fits of one codebook is one plan
    val df = Seq((Seq(1.0, 2.0), 2.0)).toDF("v", "nrm")
    val q1 = df.select(VectorMath.topKCentroids(col("v"), col("nrm"), cb, 2))
    val q2 = df.select(VectorMath.topKCentroids(col("v"), col("nrm"), cb.map(identity), 2))
    assert(q1.sameSemantics(q2))
    assert(q1.collect().toSeq == q2.collect().toSeq)
  }
}
