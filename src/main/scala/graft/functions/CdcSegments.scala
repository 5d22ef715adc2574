package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined segmentation as a custom Catalyst GENERATOR: one
  * document row in, one row per segment out —
  * (seg_start, seg_len, seg_text, seg_hash) — computed in a single
  * hand-written pass per document.
  *
  * Why a generator and not composed columns: the composed formulation
  * (explode positions → hash-filter → regroup per doc → join back)
  * pays a position exchange and a doc-keyed join for what is
  * inherently per-row work, and the transform-lambda formulation
  * keeps it per-row but evaluates the hash through the interpreted
  * higher-order-function path (~20× slower — Probe7, commit
  * 7ad950a). This generator
  * is the altitude the operation wants: per-row, zero shuffle, the
  * hash loop in plain JVM code ([[Md5Hex64Math]] direct calls, no
  * expression-interpreter overhead), and the `Generate` operator
  * streams segments out without materializing a per-document array
  * of candidate positions.
  *
  * Semantics are IDENTICAL to the composed path (same boundary rule,
  * same slicing, same hashes — the p36 oracle and SubstringDedupSpec
  * hold unchanged): position 1 is always a segment start; position
  * i ∈ [2, len-k+1] starts a segment iff
  * hex64(substr(text, i, k)) % divisor == 0. Positions count
  * CODEPOINTS (Spark `substr`/DuckDB `substr` semantics), not UTF-16
  * units — a surrogate-pair emoji is one position.
  *
  * Null input degrades to the empty document (one zero-length
  * segment), matching the composed path's coalesce.
  */
case class CdcSegments(child: Expression, k: Int, divisor: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(k >= 1 && divisor >= 1, "k and divisor must be positive")

  override def elementSchema: StructType = StructType(Seq(
    StructField("seg_start", LongType, nullable = false),
    StructField("seg_len", LongType, nullable = false),
    StructField("seg_text", StringType, nullable = false),
    StructField("seg_hash", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_cdc_segments needs a string column, got ${child.dataType.simpleString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    val bytes =
      if (raw == null) Array.emptyByteArray
      else raw.asInstanceOf[UTF8String].getBytes
    // Codepoint-indexed view over the UTF-8 bytes: Spark/DuckDB substr
    // count codepoints, java.lang.String counts UTF-16 units — they
    // disagree beyond the BMP. A codepoint starts at every byte that
    // is not a 10xxxxxx continuation; offs(j) is the byte offset of
    // 1-based codepoint j+1, offs(n) the total length. Hashing and
    // slicing then work on (buffer, offset, length) ranges — ZERO
    // per-position allocation in the probe loop (the naive
    // String+getBytes per position doubled as the pass's GC load).
    var n = 0
    var b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xC0) != 0x80) n += 1
      b += 1
    }
    val offs = new Array[Int](n + 1)
    var ci = 0
    b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xC0) != 0x80) { offs(ci) = b; ci += 1 }
      b += 1
    }
    offs(n) = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var segStart = 1 // 1-based, codepoints
    var i = 2
    val lastProbe = n - k + 1
    while (i <= lastProbe) {
      val off = offs(i - 1)
      if (Md5Hex64Math.hashBytes(bytes, off, offs(i - 1 + k) - off)
          % divisor == 0) {
        out += segmentRow(bytes, offs, segStart, i - segStart)
        segStart = i
      }
      i += 1
    }
    out += segmentRow(bytes, offs, segStart, n - segStart + 1)
    out
  }

  private def segmentRow(bytes: Array[Byte], offs: Array[Int],
      start: Int, len: Int): InternalRow = {
    val byteOff = offs(start - 1)
    val byteLen = offs(start - 1 + len) - byteOff
    new GenericInternalRow(Array[Any](
      start.toLong, len.toLong,
      UTF8String.fromBytes(bytes, byteOff, byteLen),
      Md5Hex64Math.hashBytes(bytes, byteOff, byteLen)))
  }

  override protected def withNewChildInternal(newChild: Expression): CdcSegments =
    copy(child = newChild)
}

object CdcSegmentsFn {
  def apply(c: Column, k: Int, divisor: Int): Column =
    exprToColumn(CdcSegments(columnToExpr(c), k, divisor))
}
