package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}

/** Primitive-loop dot product over two array<double> columns.
  *
  * The builtin higher-order-function route
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) allocates an
  * intermediate array and evaluates a lambda per element in
  * interpreted mode — measured ~17x slower on the brute-force ANN
  * pair loop. This expression evaluates a tight primitive loop and
  * participates in whole-stage codegen, which is what a 100 TB
  * all-pairs/ANN scan needs. Summation order (left-to-right) matches
  * the SQL oracle's list_sum(list_transform(...)) fold.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // fail fast on ragged vectors: a silently-truncated dot product
    // yields wrong cosines (norms still use the full arrays) and
    // corrupts every downstream ranking
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"graft_dot: mismatched vector lengths $n vs ${y.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: mismatched vector lengths " + $n + " vs " + $b.numElements());
         |}
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Primitive-loop squared L2 distance over two array<double> columns —
  * the product-quantization distance kernel ([[graft.ops.Pq]]). Same
  * tight-loop/codegen rationale as [[DotProduct]]; the summation is the
  * DIRECT (x-y)^2 fold left-to-right (never the expanded
  * |x|^2 - 2xy + |y|^2 form, which sums in a different order and
  * breaks the bit-exact oracle twin
  * `list_sum(list_transform(e, (x,i) -> (x - c[i]) * (x - c[i])))`).
  */
case class L2SqDistance(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"graft_l2sq: mismatched vector lengths $n vs ${y.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_l2sq: mismatched vector lengths " + $n + " vs " + $b.numElements());
         |}
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  ${ev.value}Acc += $d * $d;
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqDistance =
    copy(left = l, right = r)
}

/** Argmin over a small literal codebook: for an array<double> input
  * row, the (d, cid) of the centroid minimizing the squared L2
  * distance, ties to the lowest cid — exactly
  * `sort_array(array(struct(l2sq(v, c_k), cid_k)...)).getItem(0)`
  * with [[L2SqDistance]]'s direct left-to-right (x−y)² fold and
  * Spark's struct sort order (SQLOrderingUtil double compare, then
  * cid ascending), but as ONE compact expression. The unrolled
  * struct-array form built m·ksub separate L2 loops into the plan
  * (256 at the PQ defaults): thousands of expression-tree nodes per
  * query to analyze/optimize, and generated projections past the
  * whole-stage-codegen method limits. This keeps the plan O(1) per
  * subspace and the loop tight at any m·ksub.
  *
  * The codebook rides as reference objects (like any literal array),
  * so identical plans stay codegen-cache-friendly across refits.
  * Equality and hash compare the codebook by content
  * ([[Codebooks]]), so equal codebooks from separate fits are
  * `semanticEquals`.
  */
case class NearestL2Entry(child: Expression,
    cents: Array[Array[Double]], cids: Array[Int]) extends UnaryExpression {
  require(cents.nonEmpty && cents.length == cids.length,
    s"NearestL2Entry needs a non-empty aligned codebook, got ${cents.length}/${cids.length}")
  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def prettyName: String = "graft_nearest_l2"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var bestD = 0.0
    var bestC = 0
    var first = true
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      if (n != c.length)
        throw new IllegalArgumentException(
          s"graft_l2sq: mismatched vector lengths $n vs ${c.length}")
      var acc = 0.0
      var i = 0
      while (i < n) { val d = x.getDouble(i) - c(i); acc += d * d; i += 1 }
      val cmp = if (first) -1
        else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(acc, bestD)
      if (cmp < 0 || (cmp == 0 && cids(k) < bestC)) {
        bestD = acc; bestC = cids(k); first = false
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val bestD = ctx.freshName("bestD")
      val bestC = ctx.freshName("bestC")
      val first = ctx.freshName("first")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $n = $v.numElements();
         |double $bestD = 0.0; int $bestC = 0; boolean $first = true;
         |for (int $k = 0; $k < $centsRef.length; $k++) {
         |  double[] $c = $centsRef[$k];
         |  if ($n != $c.length) {
         |    throw new IllegalArgumentException(
         |      "graft_l2sq: mismatched vector lengths " + $n + " vs " + $c.length);
         |  }
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $v.getDouble($i) - $c[$i];
         |    $acc += $d * $d;
         |  }
         |  int $cmp = $first ? -1
         |    : org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($acc, $bestD);
         |  if ($cmp < 0 || ($cmp == 0 && $cidsRef[$k] < $bestC)) {
         |    $bestD = $acc; $bestC = $cidsRef[$k]; $first = false;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ Double.valueOf($bestD), Integer.valueOf($bestC) });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestL2Entry =
    copy(child = newChild)

  override def equals(o: Any): Boolean = o match {
    case that: NearestL2Entry => child == that.child &&
      Codebooks.same(cents, that.cents) && java.util.Arrays.equals(cids, that.cids)
    case _ => false
  }

  private lazy val contentHash = java.util.Arrays.hashCode(Array(
    child.hashCode, Codebooks.hash(cents), java.util.Arrays.hashCode(cids)))

  override def hashCode(): Int = contentHash
}

/** Ranked top-k centroid entries by cosine against a small literal
  * codebook — the generalization of [[NearestL2Entry]] to the IVF
  * cosine family: for an (array<double> vector, double norm) row,
  * the first `k` entries of
  * `sort_array(array(struct(ns_0, cid_0), ..., struct(ns_{C-1},
  * cid_{C-1})))` where `ns_j = (dot(v, c_j) / (norm * cn_j)) * -1.0
  * + 0.0` — byte-identical float math (left-to-right dot fold, the
  * same -0.0 normalization) and the same (SQLOrderingUtil double
  * compare, then cid ascending) struct order as the unrolled form it
  * replaces. The unrolled form built C separate dot-product loops
  * into the plan: thousands of expression nodes to analyze per query
  * at auto-scaled centroid counts, and generated projections past the
  * whole-stage-codegen method limits. This keeps the plan O(1) in C
  * and the per-row work one tight C×d loop with an insertion top-k
  * (k = nProbe, single digits).
  *
  * The codebook rides as reference objects, so identical plans stay
  * codegen-cache-friendly across refits; equality and hash compare it
  * by content ([[Codebooks]]). Integer cids only (the kmeans/prefit
  * path); the "minid" stand-in keeps the unrolled form.
  */
case class TopKCentroidEntries(vec: Expression, norm: Expression,
    cents: Array[Array[Double]], cnorms: Array[Double], cids: Array[Int],
    k: Int) extends BinaryExpression {
  require(cents.nonEmpty && cents.length == cnorms.length &&
    cents.length == cids.length,
    s"TopKCentroidEntries needs a non-empty aligned codebook, got " +
      s"${cents.length}/${cnorms.length}/${cids.length}")
  require(k >= 1, s"TopKCentroidEntries needs k >= 1, got $k")
  override def left: Expression = vec
  override def right: Expression = norm
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    StructType(Seq(
      StructField("ns", DoubleType, nullable = true),
      StructField("cid", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_topk_centroids"

  /** The per-row kernel, shared verbatim by interpreted eval and the
    * generated code (called via a reference object — the inner loops
    * are compiled Scala either way; one virtual call per row is noise
    * next to the C×d flops).
    */
  def compute(vAny: Any, nAny: Any): ArrayData = {
    val x = vAny.asInstanceOf[ArrayData]
    val nrm = nAny.asInstanceOf[Double]
    val n = x.numElements()
    val m = if (k < cents.length) k else cents.length
    val topNs = new Array[Double](m)
    val topCid = new Array[Int](m)
    var filled = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (n != c.length)
        throw new IllegalArgumentException(
          s"graft_dot: mismatched vector lengths $n vs ${c.length}")
      var dot = 0.0
      var i = 0
      while (i < n) { dot += x.getDouble(i) * c(i); i += 1 }
      val ns = (dot / (nrm * cnorms(j))) * -1.0 + 0.0
      val cid = cids(j)
      // insertion position among the current top entries: ascending
      // (ns, cid) with SQLOrderingUtil double semantics (NaN largest,
      // -0.0 < 0.0 — ns is +0.0-normalized but v's NaNs can ride)
      var pos = filled
      var continue = true
      while (continue && pos > 0) {
        val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareDoubles(ns, topNs(pos - 1))
        if (cmp < 0 || (cmp == 0 && cid < topCid(pos - 1))) pos -= 1
        else continue = false
      }
      if (pos < m) {
        val last = if (filled < m) filled else m - 1
        var t = last
        while (t > pos) { topNs(t) = topNs(t - 1); topCid(t) = topCid(t - 1); t -= 1 }
        topNs(pos) = ns
        topCid(pos) = cid
        if (filled < m) filled += 1
      }
      j += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](topNs(r), topCid(r)))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("topkCentroids", this,
      classOf[TopKCentroidEntries].getName)
    nullSafeCodeGen(ctx, ev, (v, nrm) => {
      s"""
         |${ev.value} = $self.compute($v, (Double) $nrm);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKCentroidEntries =
    copy(vec = l, norm = r)

  override def equals(o: Any): Boolean = o match {
    case that: TopKCentroidEntries => vec == that.vec && norm == that.norm && k == that.k &&
      Codebooks.same(cents, that.cents) && java.util.Arrays.equals(cnorms, that.cnorms) &&
      java.util.Arrays.equals(cids, that.cids)
    case _ => false
  }

  private lazy val contentHash = java.util.Arrays.hashCode(Array(
    vec.hashCode, norm.hashCode, k, Codebooks.hash(cents),
    java.util.Arrays.hashCode(cnorms), java.util.Arrays.hashCode(cids)))

  override def hashCode(): Int = contentHash
}

/** Content equality for the literal codebooks [[NearestL2Entry]] and
  * [[TopKCentroidEntries]] carry. A case class compares `Array` fields
  * by reference, so two equal codebooks from separate fits would never
  * compare equal and every `semanticEquals`-based reuse would miss.
  * Doubles compare by bits (`java.util.Arrays`): NaN equals NaN, and
  * -0.0 differs from 0.0, as it can change the output.
  */
private[functions] object Codebooks {
  def same(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    java.util.Arrays.deepEquals(a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]])

  def hash(a: Array[Array[Double]]): Int =
    java.util.Arrays.deepHashCode(a.asInstanceOf[Array[AnyRef]])
}

object VectorMath {
  import graft.functions.{columnToExpr, exprToColumn}
  import org.apache.spark.sql.functions._

  /** dot(a, b) — tight-loop codegen over array<double>. */
  def dot(a: Column, b: Column): Column =
    exprToColumn(DotProduct(columnToExpr(a), columnToExpr(b)))

  /** L2 norm via the same codegen dot. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Squared L2 distance — tight-loop codegen, direct (x-y)^2 fold. */
  def l2sq(a: Column, b: Column): Column =
    exprToColumn(L2SqDistance(columnToExpr(a), columnToExpr(b)))

  /** struct(d, cid) of the L2-nearest codebook entry — the compact
    * argmin twin of the sort_array(array(struct(l2sq...)...)) form
    * (see [[NearestL2Entry]]). `codebook` is (cid, centroid) pairs.
    */
  def nearestL2(v: Column, codebook: Seq[(Int, Seq[Double])]): Column =
    exprToColumn(NearestL2Entry(columnToExpr(v),
      codebook.map(_._2.toArray).toArray, codebook.map(_._1).toArray))

  /** array<struct(ns, cid)> of the k cosine-nearest codebook entries —
    * the compact twin of `slice(sort_array(array(struct(ns_j, cid_j)
    * ...)), 1, k)` (see [[TopKCentroidEntries]]). `codebook` is
    * (cid, centroid, centroidNorm) triples.
    */
  def topKCentroids(v: Column, nrm: Column,
      codebook: Seq[(Int, Seq[Double], Double)], k: Int): Column =
    exprToColumn(TopKCentroidEntries(columnToExpr(v), columnToExpr(nrm),
      codebook.map(_._2.toArray).toArray, codebook.map(_._3).toArray,
      codebook.map(_._1).toArray, k))

  /** v / ||v|| as array<double> (HOF; computed once per row, not per pair). */
  def l2normalize(v: Column): Column = {
    val n = norm(v)
    transform(v, x => x / n)
  }
}
