package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Substring-level (sub-document) deduplication via content-defined
  * segmentation.
  *
  * The document-level family ([[Dedup]]) answers "is this DOCUMENT a
  * duplicate"; training corpora also carry *passages* duplicated
  * across otherwise-distinct documents (boilerplate paragraphs, quoted
  * licenses, syndicated article bodies). The exact formulation —
  * find every substring of length ≥ L occurring twice in the corpus,
  * keep one occurrence (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better") — is built on a corpus-wide suffix
  * array, which has no practical distributed analog at 100 TB.
  *
  * This operator is the scalable relaxation used by large-scale dedup
  * systems (rsync/CDC lineage): cut every document into
  * content-defined segments — a segment boundary wherever the k-gram
  * hash at a position satisfies `hash % divisor == 0` — and call a
  * segment duplicated when its exact content recurs. Because the
  * boundary rule depends only on the k characters AT the position,
  * never on the position itself, a passage shared by two documents
  * produces byte-identical interior segments in both REGARDLESS of
  * where it sits in each document — the alignment-independence that
  * fixed-stride tiling lacks (a stride-S tiling only matches when the
  * two copies agree mod S). Detection granularity is one segment
  * (expected length = `divisor` chars): a duplicated passage is found
  * once it wholly contains at least one segment, i.e. passages of
  * roughly ≥ 2·divisor chars are guaranteed, shorter ones
  * probabilistically.
  *
  * 100 TB shape: segmentation is per-row columnar work (one
  * higher-order-function pass per document, no shuffle); the exploded
  * segment table is ~1 row per `divisor` characters of corpus — a
  * constant-factor, not quadratic, blowup; duplicate detection is one
  * hash-keyed groupBy (linear shuffle, map-side partial counts); the
  * identical-flood case (10⁶ copies of one page) lands 10⁶ rows on
  * one 60-bit key as COUNTS after partial aggregation — no pair
  * enumeration anywhere, so floods degrade linearly by construction
  * (same guarantee the MinHash hot-bucket guard provides, here free).
  *
  * Memory note: segmentation materializes a transient int array of
  * ~`length(text)` entries per row inside the codegen'd projection;
  * for multi-MB documents pre-chunk (TextStats.chunkDocuments) first.
  *
  * Cross-engine determinism: the boundary hash and the segment-content
  * hash are both [[Hashing.hex64]] (md5-derived), so a DuckDB oracle
  * replays the segmentation byte-for-byte; `%` equals pmod here
  * because hex64 is non-negative.
  */
object SubstringDedup {

  /** One row per content-defined segment:
    * (id, seg_start, seg_len, seg_text, seg_hash). Null text segments
    * as the empty document (one zero-length segment).
    *
    * Physical shape: the whole segmentation — boundary detection AND
    * slicing AND content hashing — is ONE custom Catalyst generator
    * ([[graft.functions.CdcSegments]]): per-row, zero shuffle, the
    * per-position hash loop in plain JVM code. Two prior formulations
    * are recorded in Probe7 (commit 7ad950a): a `transform` lambda
    * (shuffle-free but interpreted HOF hashing, ~20× slower per
    * position) and explode→filter→regroup→join (codegen hashing but a
    * position exchange plus a doc-keyed join for inherently per-row
    * work). The generator dominates both.
    */
  def segments(docs: DataFrame, k: Int = 8, divisor: Int = 64,
      id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id),
      graft.functions.CdcSegmentsFn(coalesce(col(text), lit("")), k, divisor))

  /** Hashes of segments whose exact content occurs ≥ `minOccurrences`
    * times corpus-wide (within-document repetition counts — Lee et
    * al. keep ONE occurrence globally, wherever the copies live).
    * Only segments of ≥ `minLen` chars participate: shorter ones are
    * common incidental strings, not duplicated passages.
    */
  def duplicatedSegmentHashes(segs: DataFrame, minLen: Int = 16,
      minOccurrences: Long = 2L): DataFrame =
    segs.where(col("seg_len") >= minLen)
      .groupBy(col("seg_hash"))
      .agg(count(lit(1)).as("occurrences"))
      .where(col("occurrences") >= minOccurrences)

  /** Per-document duplication profile:
    * (id, n_segs, dup_segs, dup_chars) — the substring-level analog of
    * the document-level dup flags, and the decision input for
    * "drop/trim documents that are mostly duplicated text" curation
    * gates.
    */
  def spanStats(docs: DataFrame, k: Int = 8, divisor: Int = 64,
      minLen: Int = 16, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    // segs feeds BOTH the dup aggregate and the join probe; without
    // materialization the per-position hashing (the dominant cost)
    // runs twice — same eager-checkpoint trade as Dedup.scala: lineage
    // truncated, executor loss rescans, acceptable for a derived frame
    // ~1/divisor the corpus size
    val segs = segments(docs, k, divisor, id, text).localCheckpoint(true)
    val dup = duplicatedSegmentHashes(segs, minLen)
      .select(col("seg_hash"), lit(1).as("__dup"))
    // left join on the same key the dup table was aggregated on — the
    // exchange is reusable, and the flood case joins against ONE row
    segs.join(dup, Seq("seg_hash"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("dup_segs"),
        sum(when(col("__dup").isNotNull, col("seg_len")).otherwise(0L))
          .as("dup_chars"))
  }

  /** Rewrites each document with every duplicated segment removed
    * except its globally-first occurrence (min (id, seg_start) —
    * deterministic, engine-order-free). Single-pass splice, as in the
    * reference formulation: the text adjacencies CREATED by a removal
    * are not re-examined.
    *
    * Returns (id, clean_text). A document made entirely of duplicated
    * segments comes back as the empty string — downstream length
    * filters (quality gates) decide whether to keep the husk.
    */
  def removeDuplicatedSpans(docs: DataFrame, k: Int = 8, divisor: Int = 64,
      minLen: Int = 16, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    // same double-reference shape as spanStats (keepers + probe)
    val segs = segments(docs, k, divisor, id, text).localCheckpoint(true)
    val keepers = segs.where(col("seg_len") >= minLen)
      .groupBy(col("seg_hash"))
      .agg(count(lit(1)).as("occurrences"),
        min(struct(col(id).as("kid"), col("seg_start").as("kst"))).as("keep"))
      .where(col("occurrences") >= 2)
      .select(col("seg_hash"), col("keep"))
    segs.join(keepers, Seq("seg_hash"), "left")
      .where(col("keep").isNull ||
        (col("keep.kid") === col(id) && col("keep.kst") === col("seg_start")))
      .groupBy(col(id))
      // array_sort on (seg_start, seg_text) structs orders by the
      // unique-per-doc seg_start — reassembly is order-deterministic
      // regardless of aggregation order
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("seg_start"), col("seg_text")))),
          s => s.getField("seg_text")), "").as("clean_text"))
  }
}
