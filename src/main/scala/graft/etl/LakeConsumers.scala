package graft.etl

import graft.ops.{Dedup, Pq}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

/** Concrete [[LakeTail]] consumers: the engine's incremental operators
  * (p38 `minhashDupPairsIncremental`, p67 `encodePq` with persisted
  * codebooks) driven off the snapshot lake's OWN commit log instead of
  * ad-hoc id splits — each step processes exactly the documents /
  * embeddings the unconsumed commits appended, updates the derived
  * tables, and advances the consumer offset, all in ONE atomic lake
  * commit (exactly-once; see [[LakeTail]]).
  *
  * Invariant the s23 oracle pins: with append-only arrivals whose ids
  * only grow (the production ingest shape — a new document never takes
  * an id below the watermark), the UNION of per-step dedup pairs
  * equals the one-shot `minhashDupPairs` over everything — incremental
  * processing is a pure execution strategy, not a semantics change.
  * After a NON-append rewrite (takedown, compaction) the tail delivers
  * a full re-read and the consumer REBUILDS state and pairs, so a
  * deleted document's pairs disappear with it.
  */
object LakeConsumers {

  /** Persisted minhash signature state: (doc_id, sig) — the part of
    * yesterday's work a daily arrival must not redo.
    */
  val SigTable = "doc_sigs"

  /** Emitted near-dup pairs, accumulated across steps. */
  val PairTable = "dup_pairs"

  /** PQ codes of every embedding the tail has consumed. */
  val CodeTable = "pq_codes"

  /** One dedup micro-batch: near-dup pairs of the newly appended
    * documents against everything seen before (and within the batch),
    * signature state extended — or, after a rewrite, both tables
    * rebuilt from the full corpus. Returns the processed batch, None
    * when the tail is caught up.
    */
  def dedupStep(wh: SnapshotWarehouse, docsTable: String = "documents",
      n: Int = 8, numHashes: Int = 16, rowsPerBand: Int = 4,
      tau: Double = 0.5): Option[LakeTail.TailBatch] = {
    val tail = new LakeTail(wh, "minhash-dedup", docsTable)
    tail.runOnce { (txn, batch) =>
      val docs = batch.df.select(col("doc_id"), col("text"))
      if (batch.fullReread) {
        txn.writeDim(SigTable, Dedup.minhashSignatureArrays(docs, n, numHashes))
        txn.writeDim(PairTable,
          Dedup.minhashDupPairs(docs, n, numHashes, rowsPerBand, tau))
      } else {
        val sigs = Dedup.minhashSignatureArrays(docs, n, numHashes)
        val hasState = txn.pendingTables.contains(SigTable) ||
          wh.currentManifest().tables.contains(SigTable)
        val state = if (hasState) txn.read(SigTable) else sigs.limit(0)
        // pairs are computed against the PRE-batch state and written
        // first; the state append follows in the same transaction
        txn.append(PairTable,
          Dedup.minhashDupPairsIncremental(state, docs, n, numHashes,
            rowsPerBand, tau))
        txn.append(SigTable, sigs)
      }
    }
  }

  /** One PQ-encode micro-batch: the FIRST batch fits the codebooks and
    * persists them at `codebookPath`; every later batch encodes with
    * the LOADED artifact (the p67 persisted-state round trip, driven
    * by the lake offset instead of an id split). Codes append to
    * [[CodeTable]]; a full re-read replaces it wholesale.
    */
  def pqStep(wh: SnapshotWarehouse, codebookPath: String,
      embTable: String = "embeddings", m: Int = 4, ksub: Int = 8,
      iters: Int = 2): Option[LakeTail.TailBatch] = {
    val tail = new LakeTail(wh, "pq-encode", embTable)
    tail.runOnce { (txn, batch) =>
      val spark = batch.df.sparkSession
      val p = new HPath(codebookPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cbs =
        if (fs.exists(p)) Pq.loadPqCodebooks(spark, codebookPath, expectedM = m)
        else {
          val fit = Pq.fitPqCodebooks(batch.df, m, ksub, iters)
          Pq.savePqCodebooks(spark, codebookPath, fit)
          fit
        }
      val codes = Pq.encodePq(batch.df, cbs)
      if (batch.fullReread) txn.writeDim(CodeTable, codes)
      else txn.append(CodeTable, codes)
    }
  }
}
