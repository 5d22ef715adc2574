package graft.etl

import graft.SparkSpec
import graft.ops.Pq
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The lake-tail discipline: manifest-version-checkpointed incremental
  * consumption with EXACTLY-ONCE lake-internal effects (outputs and
  * offset share one atomic commit), restart-from-checkpoint resume,
  * and the full-re-read fallback after a non-append rewrite.
  */
class LakeTailSpec extends SparkSpec {
  import spark.implicits._


  private def sw(): SnapshotWarehouse =
    new SnapshotWarehouse(spark, tmpDir("graft-tail").toString)

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"text body number $i with shared tail", 10L + i))
      .toDF("doc_id", "text", "n_chars")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("runOnce delivers pending appends once; offset rides the commit; a restarted consumer resumes, not replays") {
    val wh = sw()
    wh.append("documents", docs(0 until 10))
    wh.append("documents", docs(10 until 15))
    val tail = new LakeTail(wh, "c1", "documents")
    assert(tail.lastProcessed() == 0L)
    val b1 = tail.runOnce((_, b) => assert(ids(b.df) == (0L until 15L).toSet))
      .getOrElse(fail("expected a batch"))
    assert(!b1.fullReread && b1.fromVersion == 0L && b1.toVersion == 2L)
    assert(tail.lastProcessed() == 2L)
    // caught up: nothing redelivered
    assert(tail.runOnce((_, _) => fail("no batch expected")).isEmpty)
    // RESTART: a fresh instance reads the offset from the lake itself
    val tail2 = new LakeTail(wh, "c1", "documents")
    assert(tail2.lastProcessed() == 2L)
    assert(tail2.runOnce((_, _) => fail("no batch expected")).isEmpty)
    // a new arrival delivers ONLY the new rows
    wh.append("documents", docs(15 until 18))
    val b2 = tail2.runOnce((_, b) => assert(ids(b.df) == Set(15L, 16L, 17L)))
      .getOrElse(fail("expected a batch"))
    assert(b2.fromVersion == b1.toVersion + 1 || b2.fromVersion == b1.toVersion,
      s"window must start at the checkpoint, got $b2")
    // independent consumers keep independent offsets
    val other = new LakeTail(wh, "c2", "documents")
    assert(other.lastProcessed() == 0L)
    other.runOnce((_, b) => assert(ids(b.df) == (0L until 18L).toSet))
  }

  test("exactly-once: a handler crash publishes NOTHING (no offset, no outputs); the retry redelivers the same window") {
    val wh = sw()
    wh.append("documents", docs(0 until 8))
    val tail = new LakeTail(wh, "c1", "documents")
    val vBefore = wh.currentVersion()
    intercept[RuntimeException] {
      tail.runOnce { (txn, b) =>
        // the handler stages real output THEN dies — the staged segment
        // must never publish, and the offset must not move
        txn.append("derived", b.df.select("doc_id"))
        throw new RuntimeException("boom mid-batch")
      }
    }
    assert(wh.currentVersion() == vBefore, "a crashed step must publish no snapshot")
    assert(!wh.currentManifest().tables.contains("derived"))
    assert(tail.lastProcessed() == 0L)
    // the retry sees the SAME window and this time everything — output
    // and offset — lands in one commit
    val b = tail.runOnce { (txn, b) =>
      txn.append("derived", b.df.select("doc_id"))
    }.getOrElse(fail("expected redelivery"))
    assert(ids(b.df) == (0L until 8L).toSet)
    assert(wh.currentVersion() == vBefore + 1, "output + offset must be ONE commit")
    assert(wh.read("derived").count() == 8L)
    assert(tail.lastProcessed() == b.toVersion)
  }

  test("a rewrite inside the window (takedown) delivers a full re-read, flagged, pinned at the head snapshot") {
    val wh = sw()
    wh.append("documents", docs(0 until 10))
    val tail = new LakeTail(wh, "c1", "documents")
    tail.runOnce((_, _) => ())
    // a takedown makes the next window non-append
    wh.append("documents", docs(10 until 12))
    wh.deleteWhere("documents", col("doc_id") < 3L)
    val b = tail.runOnce((_, b) =>
      assert(ids(b.df) == ((3L until 12L)).toSet, "full current table expected"))
      .getOrElse(fail("expected a batch"))
    assert(b.fullReread, "a non-append window must be delivered as a full re-read")
    // and the tail returns to incremental deliveries afterwards
    wh.append("documents", docs(12 until 14))
    val b2 = tail.runOnce((_, b) => assert(ids(b.df) == Set(12L, 13L)))
      .getOrElse(fail("expected a batch"))
    assert(!b2.fullReread)
  }

  test("commits that add nothing to the tailed table are skipped without empty checkpoint commits") {
    val wh = sw()
    wh.append("documents", docs(0 until 5))
    val tail = new LakeTail(wh, "c1", "documents")
    tail.runOnce((_, _) => ())
    val v = wh.currentVersion()
    // churn on OTHER tables only
    wh.append("events_agg", Seq((1L, 2L)).toDF("k", "v"))
    assert(tail.runOnce((_, _) => fail("no documents batch expected")).isEmpty)
    // the consumer wrote NO manifest of its own for the no-op poll
    assert(wh.currentVersion() == v + 1)
  }

  test("dedupStep: per-arrival pair emission accumulates to the one-shot run; a takedown rebuilds state and pairs") {
    val wh = sw()
    // three documents with a genuine near-dup pair split across arrivals
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different content with no overlap at all here x"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappXa"))
      .toDF("doc_id", "text")
    wh.append("documents", d.where(col("doc_id") <= 2L))
    LakeConsumers.dedupStep(wh, tau = 0.2)
    wh.append("documents", d.where(col("doc_id") === 3L))
    LakeConsumers.dedupStep(wh, tau = 0.2)
    val pairs = wh.read(LakeConsumers.PairTable)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.ops.Dedup.minhashDupPairs(d, n = 8, numHashes = 16,
      rowsPerBand = 4, tau = 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == oneShot, s"incremental $pairs != one-shot $oneShot")
    assert(pairs.contains((1L, 3L)), "the cross-arrival near-dup must be found")
    // takedown of doc 1: the tail rebuilds, and doc 1's pairs vanish
    wh.deleteWhere("documents", col("doc_id") === 1L)
    LakeConsumers.dedupStep(wh, tau = 0.2)
    assert(wh.read(LakeConsumers.PairTable).count() == 0L,
      "a deleted document's pairs must disappear with it")
    assert(ids(wh.read(LakeConsumers.SigTable)) == Set(2L, 3L))
  }

  test("lake-tail-dedup CLI drains pending commits, advances the offset, and is a clean no-op when caught up") {
    val dir = tmpDir("graft-tail").toString
    val wh = new SnapshotWarehouse(spark, dir)
    wh.append("documents", docs(0 until 6))
    assert(Main.run(Array("lake-tail-dedup", "--warehouse", s"snapshot:$dir"), spark) == 0)
    assert(new LakeTail(wh, "minhash-dedup", "documents").lastProcessed() > 0L)
    assert(wh.currentManifest().tables.contains(LakeConsumers.SigTable))
    val v = wh.currentVersion()
    assert(Main.run(Array("lake-tail-dedup", "--warehouse", s"snapshot:$dir"), spark) == 0)
    assert(wh.currentVersion() == v, "a caught-up drain must commit nothing")
    // non-snapshot target is a usage error, not a crash
    assert(Main.run(Array("lake-tail-dedup", "--warehouse", dir), spark) == 2)
  }

  test("pqStep: two-arrival incremental encode equals the one-shot encode under the persisted codebooks") {
    val wh = sw()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mid = emb.agg(max(col("vec_id"))).head.getLong(0) / 2
    val cbPath = tmpDir("graft-tail").resolve("cb").toString
    wh.append("embeddings", emb.where(col("vec_id") <= mid))
    assert(LakeConsumers.pqStep(wh, cbPath).nonEmpty)
    wh.append("embeddings", emb.where(col("vec_id") > mid))
    assert(LakeConsumers.pqStep(wh, cbPath).nonEmpty)
    assert(LakeConsumers.pqStep(wh, cbPath).isEmpty, "caught up")
    val codes = wh.read(LakeConsumers.CodeTable)
    val oneShot = Pq.encodePq(emb, Pq.loadPqCodebooks(spark, cbPath, expectedM = 4))
    assert(codes.count() == oneShot.count() && codes.count() > 0)
    assert(codes.exceptAll(oneShot).isEmpty && oneShot.exceptAll(codes).isEmpty,
      "incremental codes must equal the one-shot encode bit-for-bit")
  }
}
