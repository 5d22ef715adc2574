package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Cross-table atomic publish: a crashed multi-table load must never
  * expose a mixed generation — readers see the whole load or none of
  * it — and a reader planned before a commit keeps its own snapshot
  * (the delete-then-append window of the plain parquet backend,
  * closed).
  */
class SnapshotWarehouseSpec extends SparkSpec {
  import spark.implicits._


  private def sw(): SnapshotWarehouse =
    Warehouse(spark, s"snapshot:${tmpDir("graft-snap")}") match {
      case s: SnapshotWarehouse => s
      case other => fail(s"snapshot: prefix dispatched to $other")
    }

  private def gene(rows: (Long, String)*) =
    rows.toSeq.toDF("gene_key", "ensembl_id")

  private def facts(keys: Range, study: Long) =
    keys.map(i => (i.toLong, i.toLong % 7, study, i * 1.5)).toDF(
      "sample_key", "gene_key", "study_key", "expression_value")

  private def factSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("sample_key", "study_key").collect()
      .map(r => (r.getAs[Number]("sample_key").longValue(),
        r.getAs[Number]("study_key").longValue())).toSet

  test("bootstrap: absent tables read as empty frames with the declared schema") {
    val wh = sw()
    val df = wh.read("fact_expression")
    assert(df.count() == 0)
    assert(df.schema == Warehouse.schemas("fact_expression"))
    assert(wh.currentVersion() == 0L)
  }

  test("single-op writes round-trip and version monotonically") {
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1", 2L -> "ENSG2"))
    assert(wh.currentVersion() == 1L)
    wh.append("fact_expression", facts(0 until 10, study = 1L))
    wh.append("fact_expression", facts(10 until 15, study = 2L))
    assert(wh.currentVersion() == 3L)
    assert(wh.read("dim_gene").count() == 2)
    assert(factSet(wh.read("fact_expression")) ==
      (0 until 15).map(i => (i.toLong, if (i < 10) 1L else 2L)).toSet)
    // partition pruning survives the segment layout: a study predicate
    // must not scan the other study's directories
    val pruned = wh.read("fact_expression").where(col("study_key") === 2L)
    assert(factSet(pruned).forall(_._2 == 2L) && pruned.count() == 5)
  }

  test("replace keeps no delete window and an empty recompute still drops stale rows") {
    val wh = sw()
    wh.append("fact_expression", facts(0 until 10, 1L)
      .unionByName(facts(10 until 20, 2L)))
    // a reader planned against the PRE-replace snapshot...
    val before = wh.read("fact_expression")
    wh.replaceStudyPartitions("fact_expression", facts(100 until 103, 1L), Seq(1L))
    // ...still reads its own generation AFTER the commit: nothing was
    // deleted, only masked in the newer manifest
    assert(factSet(before) == ((0 until 20).map(i =>
      (i.toLong, if (i < 10) 1L else 2L))).toSet)
    val after = wh.read("fact_expression")
    assert(factSet(after) ==
      (Seq(100L, 101L, 102L).map(_ -> 1L) ++ (10 until 20).map(_.toLong -> 2L)).toSet)
    // S7 contract: an empty recomputation still clears the study
    wh.replaceStudyPartitions("fact_expression",
      facts(0 until 0, 1L), Seq(1L))
    assert(factSet(wh.read("fact_expression")) ==
      (10 until 20).map(_.toLong -> 2L).toSet)
    // time travel still sees every prior generation
    assert(factSet(wh.readAt("fact_expression", 1L)).size == 20)
    assert(factSet(wh.readAt("fact_expression", 2L)).count(_._2 == 1L) == 3)
  }

  test("a writer killed between table writes publishes NOTHING — never a mixed generation") {
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1"))
    wh.append("fact_expression", facts(0 until 5, 1L))
    val v = wh.currentVersion()

    // the load: new dim generation + new facts, crash after BOTH data
    // writes but before commit — the worst window: every byte of the
    // new generation is on disk
    intercept[RuntimeException] {
      wh.transact { txn =>
        txn.writeDim("dim_gene", gene(1L -> "ENSG1", 2L -> "ENSG2"))
        txn.append("fact_expression", facts(5 until 9, 1L))
        // within the txn, read-your-writes sees both...
        assert(txn.read("dim_gene").count() == 2)
        assert(txn.read("fact_expression").count() == 9)
        throw new RuntimeException("kill -9")
      }
    }
    // ...but a reader sees NEITHER: same version, old dim, old facts
    assert(wh.currentVersion() == v)
    assert(wh.read("dim_gene").count() == 1)
    assert(factSet(wh.read("fact_expression")) == (0 until 5).map(_.toLong -> 1L).toSet)

    // and the retried load lands atomically as ONE version
    wh.transact { txn =>
      txn.writeDim("dim_gene", gene(1L -> "ENSG1", 2L -> "ENSG2"))
      txn.append("fact_expression", facts(5 until 9, 1L))
    }
    assert(wh.currentVersion() == v + 1)
    assert(wh.read("dim_gene").count() == 2)
    assert(wh.read("fact_expression").count() == 9)
  }

  test("concurrent commit from a stale base on the SAME table is detected, not silently merged") {
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1"))
    intercept[ConcurrentWriteException] {
      wh.transact { outer =>
        outer.writeDim("dim_gene", gene(1L -> "ENSG1", 2L -> "ENSG2"))
        // another writer lands v2 touching the SAME table while the
        // outer txn is in flight — an OCC rebase here would silently
        // drop the interloper's update (disjoint tables DO rebase; see
        // the OCC rebase test)
        wh.transact(_.writeDim("dim_gene", gene(9L -> "ENSG9")))
      }
    }
    // the interloper's commit is intact; the stale writer published nothing
    assert(wh.read("dim_gene").collect().map(_.getLong(0)).toSet == Set(9L))
  }

  test("compact folds segments; vacuum drops orphans and keeps the live generation readable") {
    val wh = sw()
    (0 until 4).foreach(i => wh.append("fact_expression",
      facts(i * 5 until (i + 1) * 5, 1L)))
    wh.replaceStudyPartitions("fact_expression", facts(100 until 101, 1L), Seq(1L))
    // plus a crashed load's orphan segment
    intercept[RuntimeException] {
      wh.transact { txn =>
        txn.append("fact_expression", facts(500 until 600, 9L))
        throw new RuntimeException("kill")
      }
    }
    wh.compact("fact_expression")
    // grace 0: this test KNOWS no transaction is in flight — the
    // crashed load's orphan must go despite being seconds old
    wh.vacuum(orphanGraceMs = 0L)
    val dir = new java.io.File(s"${wh.baseDir}/fact_expression")
    val segs = dir.listFiles().filter(_.getName.startsWith("seg-"))
    assert(segs.length == 1, s"expected one live segment, got ${segs.map(_.getName).toSeq}")
    assert(factSet(wh.read("fact_expression")) == Set(100L -> 1L))
    // pre-current manifests are gone -> time travel now fails loudly
    intercept[IllegalArgumentException] { wh.readAt("fact_expression", 1L) }
  }

  test("vacuum honors a retention horizon: kept versions stay time-travelable") {
    val wh = sw()
    wh.append("fact_expression", facts(0 until 5, 1L))   // v1
    wh.append("fact_expression", facts(5 until 8, 2L))   // v2
    wh.replaceStudyPartitions("fact_expression",
      facts(100 until 101, 1L), Seq(1L))                      // v3
    wh.vacuum(keepVersions = 2)
    // v2 and v3 survive: both generations still read exactly
    assert(factSet(wh.readAt("fact_expression", 2L)) ==
      ((0 until 8).map(i => (i.toLong, if (i < 5) 1L else 2L))).toSet)
    assert(factSet(wh.readAt("fact_expression", 3L)) ==
      (Set(100L -> 1L) ++ (5 until 8).map(_.toLong -> 2L)))
    // v1 is past the horizon
    intercept[IllegalArgumentException] { wh.readAt("fact_expression", 1L) }
  }

  test("partition pruning survives the segment-union read path") {
    val wh = sw()
    (0 until 3).foreach(i => wh.append("fact_expression",
      facts(i * 5 until (i + 1) * 5, 1L).unionByName(
        facts(100 + i * 5 until 100 + (i + 1) * 5, 2L))))
    val df = wh.read("fact_expression").where(col("study_key") === 2L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // every segment scan must carry the study predicate as a
    // PartitionFilter (directory pruning), never a post-scan Filter
    // over the full segment — the F7 contract through the manifest
    val scans = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty, s"no partition filters in:\n$plan")
    assert(scans.forall(_.contains("study_key")),
      s"a segment scan lost the study_key partition filter:\n$plan")
  }

  test("auto-compaction bounds segment growth inside the appending commit itself") {
    val dir = tmpDir("graft-snap")
    val wh = new SnapshotWarehouse(spark, dir.toString, autoCompactSegments = 4)
    (0 until 12).foreach(i =>
      wh.append("fact_expression", facts(i * 3 until (i + 1) * 3, 1L)))
    // every append that would leave >4 segments folded to 1 in ITS OWN
    // commit — the manifest never names an unbounded union
    val segs = wh.currentManifest().tables("fact_expression")
    assert(segs.size <= 5, s"segment list grew unbounded: ${segs.size}")
    // and nothing was lost across the folds
    assert(factSet(wh.read("fact_expression")) ==
      (0 until 36).map(_.toLong -> 1L).toSet)
  }

  test("vacuum racing an in-flight transaction spares its freshly staged segments") {
    val wh = sw()
    wh.append("fact_expression", facts(0 until 5, 1L)) // v1
    wh.append("fact_expression", facts(5 until 8, 1L)) // v2
    wh.transact { txn =>
      txn.append("fact_expression", facts(100 until 110, 9L))
      // a maintenance vacuum fires while the load is between staging
      // and commit: with the default orphan grace the staged (not yet
      // referenced) segment survives — before the grace window this
      // exact interleaving deleted it and let the load commit a
      // manifest pointing at nothing
      wh.vacuum(keepVersions = 1)
    }
    // the load committed a manifest whose segments all exist
    assert(factSet(wh.read("fact_expression")) ==
      ((0 until 8).map(_.toLong -> 1L) ++ (100 until 110).map(_.toLong -> 9L)).toSet)
    wh.read("fact_expression").count() // forces every segment listed + read
  }

  test("two concurrent transactions from the same base: exactly one commits, the loser throws") {
    // Looped: a single shot of this race passed entire sessions while
    // the round-8 acquire bug (Hadoop local-FS create(overwrite=false)
    // is check-then-act, not O_EXCL) was live — both writers
    // "acquired" the lock and both committed v2, a silent lost update.
    // 20 latch-synchronized rounds make the microsecond window an
    // actual probability, not a lottery ticket.
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1")) // v1
    for (round <- 0 until 20) {
      val base = wh.currentVersion()
      val gate = new java.util.concurrent.CountDownLatch(2)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
      val threads = (0 until 2).map { i =>
        new Thread(() => {
          val r = try Right {
            wh.transact { txn =>
              txn.writeDim("dim_illness",
                Seq((round * 2L + i, s"illness-$round-$i")).toDF("illness_key", "illness_label"))
              gate.countDown()
              // both transactions hold the same base before either
              // commits (generous await: the full suite runs many specs
              // against one local Spark, and a starved thread here must
              // not masquerade as a commit-race loser)
              assert(gate.await(120, java.util.concurrent.TimeUnit.SECONDS))
            }
            ()
          } catch { case t: Throwable => Left(t) }
          outcomes.add(r)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      val (losers, winners) = outcomes.toArray(Array.empty[Either[Throwable, Unit]])
        .partition(_.isLeft)
      assert(winners.length == 1, s"round $round: exactly one writer must win: $outcomes")
      assert(losers.length == 1 &&
        losers.head.left.exists(_.isInstanceOf[ConcurrentWriteException]),
        s"round $round: the loser must throw ConcurrentWriteException: $losers")
      // exactly the winner's commit is visible, one version up
      assert(wh.currentVersion() == base + 1,
        s"round $round: lost update — both writers committed over base $base")
    }
    // one winner per round, each a single-row overwrite of dim_illness
    assert(wh.read("dim_illness").count() == 1)
  }

  test("OCC rebase: a commit racing a winner on DISJOINT tables rebases and lands; overlapping tables still conflict") {
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1")) // v1
    val other = new SnapshotWarehouse(spark, wh.baseDir)
    val v0 = wh.currentVersion()
    // a transaction that loses the CAS race to a writer on a DIFFERENT
    // table: the commit must rebase onto the winner's snapshot and
    // publish BOTH outcomes instead of throwing
    wh.transact { txn =>
      txn.append("fact_expression", facts(0 until 5, 1L))
      other.writeDim("dim_platform",
        Seq((1L, "GPL570")).toDF("platform_key", "platform_accession"))
      ()
    }
    assert(wh.currentVersion() == v0 + 2)
    assert(factSet(wh.read("fact_expression")) ==
      (0 until 5).map(_.toLong -> 1L).toSet)
    assert(wh.read("dim_platform").count() == 1)
    assert(wh.read("dim_gene").count() == 1, "rebase must carry the old base forward")
    // overlap on fact_expression: rebasing would silently drop the
    // winner's segment (pending replaces the table list wholesale) —
    // the loser must still throw, and its staged rows stay invisible
    intercept[ConcurrentWriteException] {
      wh.transact { txn =>
        txn.append("fact_expression", facts(5 until 8, 2L))
        other.append("fact_expression", facts(100 until 103, 3L))
        ()
      }
    }
    val vis = factSet(wh.read("fact_expression"))
    assert(vis.exists(_._2 == 3L), "the winner's rows must be visible")
    assert(!vis.exists(_._2 == 2L), "the conflicted loser must publish nothing")
  }

  test("OCC rebase under real thread contention: same-base disjoint-table writers BOTH land") {
    // the sequential OCC test pins the semantics; this one makes the
    // race real — two threads hold the same base until both are ready
    // to commit, then race the manifest CAS. The loser must rebase
    // (disjoint tables) instead of throwing. Looped like the
    // conflict-race test so the window is a probability, not a lottery.
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1"))
    for (round <- 0 until 10) {
      val base = wh.currentVersion()
      val gate = new java.util.concurrent.CountDownLatch(2)
      val tables = Seq("dim_illness", "dim_platform")
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
      val threads = (0 until 2).map { i =>
        new Thread(() => {
          val r = try Right {
            wh.transact { txn =>
              if (i == 0) txn.writeDim("dim_illness",
                Seq((round.toLong, s"ill-$round")).toDF("illness_key", "illness_label"))
              else txn.writeDim("dim_platform",
                Seq((round.toLong, s"GPL$round")).toDF("platform_key", "platform_accession"))
              gate.countDown()
              assert(gate.await(120, java.util.concurrent.TimeUnit.SECONDS))
            }
            ()
          } catch { case t: Throwable => Left(t) }
          outcomes.add(r)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      val results = outcomes.toArray(Array.empty[Either[Throwable, Unit]])
      assert(results.forall(_.isRight),
        s"round $round: disjoint-table writers must BOTH land, got $results")
      assert(wh.currentVersion() == base + 2,
        s"round $round: expected two commits over base $base")
      // both effects visible in the final snapshot
      assert(wh.read("dim_illness").where(col("illness_key") === round.toLong).count() == 1)
      assert(wh.read("dim_platform").where(col("platform_key") === round.toLong).count() == 1)
    }
  }

  test("concurrent writes in ONE transaction: four threads stage four tables, one commit holds all") {
    // a load's independent branches write their dims from pool threads
    // into the same transaction; every staged table must reach the
    // commit (an unguarded pending map can drop an entry). Looped so
    // the overlap is likely, not lucky.
    val wh = sw()
    val frames = Map(
      "dim_gene" -> ((r: Int) => gene(1L -> s"ENSG$r", 2L -> s"ENSG${r + 1}")),
      "dim_study" -> ((r: Int) => Seq((1L, s"GSE$r")).toDF("study_key", "gse_accession")),
      "dim_platform" -> ((r: Int) =>
        Seq((1L, s"GPL$r"), (2L, s"GPL${r}b")).toDF("platform_key", "platform_accession")),
      "dim_illness" -> ((r: Int) => Seq((1L, s"ill-$r")).toDF("illness_key", "illness_label")))
    for (round <- 0 until 5) {
      val base = wh.currentVersion()
      wh.transact { txn =>
        val gate = new java.util.concurrent.CountDownLatch(frames.size)
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = frames.toSeq.map { case (table, frame) =>
          new Thread(() => {
            try {
              val df = frame(round)
              gate.countDown()
              gate.await()
              txn.writeDim(table, df)
            } catch { case t: Throwable => errors.add(t) }
            ()
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join(300000))
        assert(errors.isEmpty, s"round $round: ${errors.toArray.mkString(", ")}")
      }
      assert(wh.currentVersion() == base + 1, s"round $round: expected one commit")
      assert(frames.keySet.subsetOf(wh.currentManifest().tables.keySet))
      frames.foreach { case (table, frame) =>
        val expected = frame(round).collect().map(_.toSeq).toSet
        assert(wh.read(table).collect().map(_.toSeq).toSet == expected,
          s"round $round: $table does not read back what was written")
        assert(wh.currentManifest().tables(table).size == 1)
      }
    }
  }

  test("contended stale-lock break: racing waiters never delete each other's fresh lock") {
    // The TOCTOU hazard: waiters A and B both judge the planted lock
    // stale; A breaks it and acquires a FRESH lock; a naive delete by
    // B would remove A's fresh lock and admit two committers. The
    // break path re-verifies mtime and renames to a unique tombstone,
    // so every round must still end with monotonic versions and no
    // lost update.
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1")) // v1
    for (round <- 0 until 10) {
      val base = wh.currentVersion()
      val lock = new java.io.File(s"${wh.baseDir}/_manifests/_commit.lock")
      assert(lock.createNewFile(), s"round $round: could not plant the stale lock")
      assert(lock.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
      val start = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
      val threads = (0 until 4).map { i =>
        new Thread(() => {
          start.await()
          val r = try Right {
            wh.append("fact_expression", facts(i * 3 until i * 3 + 3, study = round * 10L + i))
          } catch { case t: Throwable => Left(t) }
          outcomes.add(r)
        })
      }
      threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(300000))
      val results = outcomes.toArray(Array.empty[Either[Throwable, Unit]])
      val winners = results.count(_.isRight)
      // single-op writes retry internally only via distinct bases, so
      // losers throwing ConcurrentWriteException is legal; what is NOT
      // legal is a lost update: versions must advance by exactly the
      // winner count, and every winner's rows must be readable.
      assert(results.forall(r => r.isRight ||
        r.left.exists(_.isInstanceOf[ConcurrentWriteException])),
        s"round $round: unexpected failure kind: $results")
      assert(winners >= 1, s"round $round: at least one writer must break the stale lock and win")
      assert(wh.currentVersion() == base + winners,
        s"round $round: lost update — $winners winners but version went $base -> ${wh.currentVersion()}")
    }
    wh.read("fact_expression").count() // all committed segments readable
  }

  test("settleTombstone: a captured FRESH lock is restored, only the proven-stale file is destroyed") {
    // defense 3 of the stale-lock break: the stat->rename gap can
    // capture a lock a live writer just created; the settle step must
    // identify the capture by mtime and put the lock BACK
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1"))
    val mdir = s"${wh.baseDir}/_manifests"
    val lock = new java.io.File(s"$mdir/_commit.lock")
    val tomb = new java.io.File(s"$mdir/_stale_test.lock")
    val lockP = new org.apache.hadoop.fs.Path(lock.getPath)
    val tombP = new org.apache.hadoop.fs.Path(tomb.getPath)

    // capture case: tombstone mtime != the observed stale mtime ->
    // restored to the lock path, nothing deleted
    assert(tomb.createNewFile())
    val fresh = tomb.lastModified()
    assert(!wh.settleTombstone(tombP, lockP, observedMtime = fresh - 5000))
    assert(lock.exists(), "captured fresh lock must be restored to the lock path")
    assert(!tomb.exists(), "restore must not leave the tombstone behind")
    assert(lock.delete())

    // proven-stale case: mtimes match -> destroyed, lock path stays free
    assert(tomb.createNewFile())
    val stale = tomb.lastModified()
    assert(wh.settleTombstone(tombP, lockP, observedMtime = stale))
    assert(!tomb.exists() && !lock.exists())

    // restore-FAILURE case (round 11): the restore rename can return
    // false (no exception) — e.g. the tombstone vanished or the lock
    // path was re-created by a third writer inside the double-rename
    // window. The settle must survive it (warn loudly, return false)
    // instead of silently assuming the restore happened.
    assert(!tomb.exists())
    assert(!wh.settleTombstone(tombP, lockP, observedMtime = stale - 5000),
      "a failed restore must still report the break as failed")
    assert(!lock.exists(), "a failed restore must not conjure a lock")
  }

  test("a stale commit lock (crashed holder) is broken, not waited on forever") {
    val wh = sw()
    wh.writeDim("dim_gene", gene(1L -> "ENSG1"))
    val lock = new java.io.File(s"${wh.baseDir}/_manifests/_commit.lock")
    assert(lock.createNewFile(), "test could not plant the stale lock")
    assert(lock.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    wh.writeDim("dim_gene", gene(1L -> "ENSG1", 2L -> "ENSG2")) // must not hang
    assert(wh.read("dim_gene").count() == 2)
    assert(!lock.exists(), "broken lock must not linger after the commit")
  }

  test("manifest segment stats skip non-matching segments before any footer is listed") {
    val wh = sw()
    wh.append("fact_expression", facts(0 until 5, 1L))
    wh.append("fact_expression", facts(5 until 9, 2L))
    wh.append("fact_expression", facts(9 until 12, 3L))
    // stats were stamped at write time from directory names + footers
    val segs = wh.currentManifest().tables("fact_expression")
    assert(segs.map(_.rows) == Seq(5L, 4L, 3L))
    assert(segs.map(_.studies) == Seq(Seq(1L), Seq(2L), Seq(3L)))

    def scanCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.length

    // the study-2 read plans a union over ONE segment, not three
    val pruned = wh.readStudies("fact_expression", Seq(2L))
    assert(scanCount(pruned) == 1,
      s"expected 1 segment scan, plan:\n${pruned.queryExecution.executedPlan}")
    assert(factSet(pruned) == (5 until 9).map(_.toLong -> 2L).toSet)
    // a replace's exclusion mask also counts: study 1 masked out of its
    // old segment ⇒ that segment no longer matches a study-1 read
    wh.replaceStudyPartitions("fact_expression", facts(100 until 102, 1L), Seq(1L))
    val afterReplace = wh.readStudies("fact_expression", Seq(1L))
    assert(scanCount(afterReplace) == 1,
      s"masked segment must be manifest-skipped:\n${afterReplace.queryExecution.executedPlan}")
    assert(factSet(afterReplace) == Set(100L -> 1L, 101L -> 1L))
    // and the unfiltered read still sees everything (skip is opt-in)
    assert(wh.read("fact_expression").count() == 9)
  }

  test("per-study rollback: a study failing AFTER its dim upserts publishes nothing on the snapshot backend") {
    // the reference's per-study transaction made literal (pipeline.py
    // rollback-on-error): metadata is valid, but the corrupt expression
    // file kills the study, and NOTHING publishes
    val root = tmpDir("graft-snap")
    val d = Files.createDirectories(root.resolve("GSE1"))
    Files.writeString(d.resolve("metadata_GSE1.tsv"),
      """refinebio_accession_code	experiment_accession	refinebio_age	refinebio_sex	refinebio_platform	characteristics_ch2_illness
        |GSM1	GSE1	16	female	GPL96	Healthy
        |""".stripMargin)
    Files.writeString(d.resolve("expression_GSE1.tsv"), "garbage-no-gene-header\n1.0\n")
    val filter = root.resolve("filter.tsv")
    Files.writeString(filter, "ensembl_id\nENSG1\n")
    val cfg = AppConfig(DatabaseConfig("unused"),
      ProcessingConfig(root, filter), LoggingConfig(logLevel = "WARN"))

    val snapDir = tmpDir("graft-snap").toString
    val results = new EtlJob(spark, cfg, s"snapshot:$snapDir").run()
    assert(results.exists(_.error.isDefined), s"study should have failed: $results")
    val snap = new SnapshotWarehouse(spark, snapDir)
    assert(snap.currentVersion() == 0L, "failed study must not commit a snapshot")
    assert(snap.read("dim_study").count() == 0)
    assert(snap.read("etl_study_state").count() == 0)

    // the plain backend publishes nothing either: the expression header
    // fails validation before any warehouse write
    val plainDir = tmpDir("graft-snap").toString
    new EtlJob(spark, cfg, plainDir).run()
    assert(Warehouse(spark, plainDir).read("dim_study").count() == 0)
  }

  test("E2E: the unioned ETL against the snapshot backend matches the plain parquet backend") {
    val root = tmpDir("graft-snap")
    val metadataTsv =
      """refinebio_accession_code	experiment_accession	refinebio_age	refinebio_sex	refinebio_platform	characteristics_ch2_illness
        |GSM1	GSE1	16	female	GPL96	Healthy
        |GSM2	GSE1	25	male	GPL96	Diabetes
        |""".stripMargin
    val expressionTsv =
      """gene	GSM1	GSM2
        |ENSG1	1.0	2.0
        |ENSG2	2.0	4.0
        |""".stripMargin
    Seq("GSE1", "GSE2").foreach { gse =>
      val d = Files.createDirectories(root.resolve(gse))
      Files.writeString(d.resolve(s"metadata_$gse.tsv"),
        metadataTsv.replace("GSE1", gse))
      Files.writeString(d.resolve(s"expression_$gse.tsv"), expressionTsv)
    }
    val filter = root.resolve("filter.tsv")
    Files.writeString(filter, "ensembl_id\nENSG1\nENSG2\n")
    def cfg = AppConfig(DatabaseConfig("unused"),
      ProcessingConfig(root, filter), LoggingConfig(logLevel = "WARN"))

    val plainDir = tmpDir("graft-snap").toString
    val snapDir = s"snapshot:${tmpDir("graft-snap")}"
    val rPlain = new EtlJob(spark, cfg, plainDir).run()
    val rSnap = new EtlJob(spark, cfg, snapDir).run()
    assert(rPlain.map(r => (r.accession, r.samples, r.facts)) ==
      rSnap.map(r => (r.accession, r.samples, r.facts)))

    def dump(dir: String) = {
      val wh = Warehouse(spark, dir)
      val facts = wh.read("fact_expression")
        .join(wh.read("dim_study"), "study_key")
        .join(wh.read("dim_gene"), "gene_key")
        .join(wh.read("dim_sample").select(col("sample_key"), col("gsm_accession")),
          "sample_key")
        .select("gse_accession", "ensembl_id", "gsm_accession", "expression_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getDouble(3))).toSet
      facts
    }
    assert(dump(plainDir) == dump(snapDir))
    // and the whole load was ONE atomic commit (single manifest version)
    val snap = Warehouse(spark, snapDir).asInstanceOf[SnapshotWarehouse]
    assert(snap.currentVersion() == 1L)
    // re-run idempotence (X2) through the anti-join, one more commit
    new EtlJob(spark, cfg, snapDir).run()
    assert(dump(plainDir) == dump(snapDir))

    // the correlation job routes its F7 study read through the
    // manifest-skipping path on this backend — results must match the
    // plain backend exactly
    def corr(dir: String) = {
      val s = new CorrelationJob(spark, dir).run()
      val wh = Warehouse(spark, dir)
      (s.pairs, wh.read("fact_gene_pair_corr")
        .select("study_key", "gene_a_key", "gene_b_key", "n_samples")
        .collect().map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue(),
          r.getAs[Number](2).longValue(), r.getAs[Number](3).longValue())).toSet)
    }
    assert(corr(plainDir) == corr(snapDir))
  }

  test("schema contract: type drift on a core column is rejected at commit and NOTHING publishes") {
    val wh = sw()
    wh.append("fact_expression", facts(0 until 10, 1L))
    val v = wh.currentVersion()
    // a writer whose expression_value drifted to string: the declared-
    // schema read would silently null the column — must reject loudly
    val drifted = (10 until 15).map(i =>
      (i.toLong, i.toLong % 7, 1L, s"${i * 1.5}")).toDF(
      "sample_key", "gene_key", "study_key", "expression_value")
    val e = intercept[SchemaContractViolation] {
      wh.append("fact_expression", drifted)
    }
    assert(e.getMessage.contains("expression_value") &&
      e.getMessage.contains("incompatible type"))
    // and a segment MISSING a core column is rejected too
    val missing = (10 until 15).map(i => (i.toLong, i.toLong % 7, 1L))
      .toDF("sample_key", "gene_key", "study_key")
    val e2 = intercept[SchemaContractViolation] {
      wh.append("fact_expression", missing)
    }
    assert(e2.getMessage.contains("missing required column"))
    // the rejections aborted BEFORE the manifest rename: no new
    // version, the table is exactly the pre-write generation
    assert(wh.currentVersion() == v)
    assert(wh.read("fact_expression").count() == 10)
  }

  test("schema contract: additive evolution accepted; reads as the union schema with NULLs; additive types must stay consistent") {
    val wh = sw()
    // extension table (not in the star schema): the FIRST write defines
    // the core — the manifest, not Warehouse.schemas, is its schema of
    // record
    val gen1 = Seq((1L, 100L), (2L, 200L)).toDF("doc_id", "n_chars")
    wh.append("documents", gen1)
    // additive column: accepted
    val gen2 = Seq((3L, 300L, "en"), (4L, 400L, "de"))
      .toDF("doc_id", "n_chars", "lang")
    wh.append("documents", gen2)
    val read = wh.read("documents")
    assert(read.columns.toSeq == Seq("doc_id", "n_chars", "lang"))
    val byId = read.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("lang")),
      "pre-evolution rows must read the added column as NULL")
    assert(byId(3L).getAs[String]("lang") == "en")
    // a later writer missing part of the (first-write) core is rejected
    intercept[SchemaContractViolation] {
      wh.append("documents", Seq(5L).toDF("doc_id"))
    }
    // an additive column recommitted under a DIFFERENT type is rejected
    // (the read-side union must never coerce)
    val e = intercept[SchemaContractViolation] {
      wh.append("documents",
        Seq((6L, 600L, 99L)).toDF("doc_id", "n_chars", "lang"))
    }
    assert(e.getMessage.contains("additive column 'lang'"))
    // compaction folds to ONE segment carrying the union schema, and
    // the evolved column survives it
    wh.compact("documents")
    val compacted = wh.read("documents")
    assert(compacted.columns.toSeq == Seq("doc_id", "n_chars", "lang"))
    assert(compacted.count() == 4 &&
      compacted.where(col("lang").isNull).count() == 2)
  }

  test("readWhere: a predicate on an additive column stays answerable when every segment carrying it prunes") {
    val wh = sw()
    // pre-evolution segment: no lang column at all
    wh.append("documents", Seq((1L, 100L)).toDF("doc_id", "n_chars"))
    // evolved segment: lang stamped with bounds [de, en]
    wh.append("documents",
      Seq((2L, 200L, "en"), (3L, 300L, "de")).toDF("doc_id", "n_chars", "lang"))
    // 'fr' is outside [de, en], so the ONLY segment carrying lang
    // prunes; the union must still expose the full evolved schema —
    // before the round-14 fix this threw AnalysisException while the
    // unpruned read returned the correct empty result
    val out = wh.readWhere("documents", col("lang") === "fr")
    assert(out.columns.toSeq == Seq("doc_id", "n_chars", "lang"))
    assert(out.count() == 0)
    assert(wh.read("documents").where(col("lang") === "fr").count() == 0,
      "pruned and unpruned reads must agree")
  }

  test("deleteWhere: only matching segments rewrite (untouched paths stay byte-identical); one atomic commit; time travel keeps pre-delete rows") {
    val wh = sw()
    wh.append("fact_expression", facts(0 until 10, 1L))
    wh.append("fact_expression", facts(10 until 20, 2L))
    wh.append("fact_expression", facts(20 until 30, 3L))
    val vBefore = wh.currentVersion()
    val mBefore = wh.currentManifest()
    val deleted = wh.deleteWhere("fact_expression",
      col("study_key") === 2L && col("sample_key") % 2 === 0)
    assert(deleted == 5L, s"expected 5 deleted rows, got $deleted")
    // exactly one commit
    assert(wh.currentVersion() == vBefore + 1)
    val mAfter = wh.currentManifest()
    val before = mBefore.tables("fact_expression").map(_.path)
    val after = mAfter.tables("fact_expression").map(_.path)
    assert(after.size == 3)
    // the two clean segments keep their immutable directories — a
    // takedown must not rewrite the lake
    assert(after(0) == before(0) && after(2) == before(2))
    assert(after(1) != before(1), "the hit segment must be rewritten")
    // visible rows: study 2 lost its even sample_keys only
    assert(factSet(wh.read("fact_expression")) ==
      ((0 until 10).map(_.toLong -> 1L) ++
        Seq(11L, 13L, 15L, 17L, 19L).map(_ -> 2L) ++
        (20 until 30).map(_.toLong -> 3L)).toSet)
    // time travel: the pre-delete snapshot still shows everything
    // (erasure horizon = vacuum retention, the table-format contract)
    assert(wh.readAt("fact_expression", vBefore).count() == 30)
    // vacuum to the current snapshot destroys the deleted generation
    wh.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    intercept[IllegalArgumentException] {
      wh.readAt("fact_expression", vBefore)
    }
    assert(wh.read("fact_expression").count() == 25)
  }

  test("lake CLI: lake-delete / lake-compact / lake-vacuum drive the snapshot backend end-to-end") {
    val dir = tmpDir("graft-snap").toString
    val wh = Warehouse(spark, s"snapshot:$dir").asInstanceOf[SnapshotWarehouse]
    wh.append("fact_expression", facts(0 until 10, 1L))
    wh.append("fact_expression", facts(10 until 20, 2L))
    def run(args: String*): Int = Main.run(args.toArray, spark)
    // takedown by SQL predicate
    assert(run("lake-delete", "--warehouse", s"snapshot:$dir",
      "--table", "fact_expression",
      "--where", "study_key = 2 AND sample_key % 2 = 0") == 0)
    assert(wh.read("fact_expression").count() == 15)
    // bad predicate → usage (exit 2), nothing committed
    val v = wh.currentVersion()
    assert(run("lake-delete", "--warehouse", s"snapshot:$dir",
      "--table", "fact_expression", "--where", "no_such_column = 1") == 2)
    assert(run("lake-delete", "--warehouse", s"snapshot:$dir",
      "--table", "fact_expression", "--where", "NOT SQL ((") == 2)
    assert(wh.currentVersion() == v)
    // compact folds to one segment; vacuum (grace 0, tests only) drops
    // the dead generations; table still reads 15 rows
    assert(run("lake-compact", "--warehouse", s"snapshot:$dir",
      "--table", "fact_expression") == 0)
    assert(wh.currentManifest().tables("fact_expression").size == 1)
    assert(run("lake-vacuum", "--warehouse", s"snapshot:$dir",
      "--keep", "1", "--grace-ms", "0") == 0)
    assert(wh.read("fact_expression").count() == 15)
    intercept[IllegalArgumentException] { wh.readAt("fact_expression", v) }
    // lake commands refuse non-snapshot targets with usage, not a cast
    assert(run("lake-compact", "--warehouse", tmpDir("graft-snap").toString,
      "--table", "fact_expression") == 2)
  }

  test("manifest long-column stats: stamped from footers at write; readWhere and deleteWhere prune provably-disjoint segments driver-side") {
    import spark.implicits._
    val wh = sw()
    // four segments with disjoint doc_id ranges (an extension table —
    // stats generalize beyond the star schema)
    (0 until 4).foreach { q =>
      wh.append("documents",
        (q * 100L until q * 100L + 50L).map(i => (i, i % 7)).toDF("doc_id", "n_chars"))
    }
    val segs = wh.currentManifest().tables("documents")
    assert(segs.size == 4)
    // bounds stamped from the parquet footers (no Spark job)
    assert(segs.head.longBounds("doc_id") == (0L, 49L))
    assert(segs(2).longBounds("doc_id") == (200L, 249L))
    // rows stamped from footers too (replaced the count job)
    assert(segs.forall(_.rows == 50L))

    // readWhere plans ONLY the plausible segments: 1 matching + the
    // empty seed frame = 2 leaves (read().where() would carry all 4)
    val pruned = wh.readWhere("documents",
      col("doc_id") >= 210L && col("doc_id") < 240L)
    assert(pruned.queryExecution.analyzed.collectLeaves().size == 2,
      s"expected 1 segment + seed, got:\n${pruned.queryExecution.analyzed.treeString}")
    assert(wh.read("documents").queryExecution.analyzed.collectLeaves().size == 5)
    // and the pruned read returns exactly the filtered rows
    assert(pruned.count() == 30L)
    assert(pruned.select(min(col("doc_id")), max(col("doc_id"))).head ==
      org.apache.spark.sql.Row(210L, 239L))

    // deleteWhere launches probe/rewrite jobs ONLY for the plausible
    // segment: 3 of 4 segments prune with zero I/O
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = wh.deleteWhere("documents", col("doc_id").between(210L, 239L))
      // listener events are asynchronous; onJobStart fires when the job
      // SUBMITS, which has happened by the time deleteWhere returned
      // (its actions are blocking) — a short settle covers the bus lag
      Thread.sleep(300)
      assert(n == 30L)
      // 1 probe + 1 rewrite write (footer stats are driver-side reads,
      // not jobs); un-pruned it would be >= 4 probes
      assert(jobs.get() <= 3,
        s"stats pruning should leave <= 3 jobs (probe + rewrite), saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(wh.read("documents").count() == 170L)
    // untouched segments kept their directories
    val after = wh.currentManifest().tables("documents").map(_.path)
    assert(after.count(segs.map(_.path).contains) == 3)

    // IN / OR / equality algebra through the analyzed predicate
    val m = wh.currentManifest()
    val schema = wh.fullSchema(m, "documents")
    def may(segIdx: Int, pred: org.apache.spark.sql.Column): Boolean =
      segs(segIdx).mayMatch(wh.predExpression(pred, schema))
    assert(!may(0, col("doc_id") === 200L) && may(2, col("doc_id") === 200L))
    assert(!may(0, col("doc_id").isin(77L, 205L)) && may(2, col("doc_id").isin(77L, 205L)))
    assert(may(0, col("doc_id") === 200L || col("doc_id") < 10L))
    assert(!may(1, col("doc_id") > 120L && col("doc_id") > 300L))
    // unknown shapes never prune (conservative)
    assert(may(0, length(col("doc_id").cast("string")) === 3))
  }

  test("null-count stats: IS NULL / IS NOT NULL prune absent, all-null, and never-null segments driver-side") {
    import spark.implicits._
    val wh = sw()
    // seg0: pre-evolution — no lang column (reads all-NULL via schema)
    wh.append("documents", Seq((1L, 10L)).toDF("doc_id", "n_chars"))
    // seg1: lang never null
    wh.append("documents",
      Seq((2L, 20L, "en"), (3L, 30L, "de")).toDF("doc_id", "n_chars", "lang"))
    // seg2: lang present but ALL null (typed) — no string bounds exist
    wh.append("documents", Seq((4L, 40L)).toDF("doc_id", "n_chars")
      .withColumn("lang", lit(null).cast("string")))
    val m = wh.currentManifest()
    val segs = m.tables("documents")
    // exact null counts stamped from the footers
    assert(segs(1).nullCounts("lang") == 0L)
    assert(segs(2).nullCounts("lang") == 1L)
    val schema = wh.fullSchema(m, "documents")
    def may(i: Int, pred: org.apache.spark.sql.Column): Boolean =
      segs(i).mayMatch(wh.predExpression(pred, schema), schema.fieldNames.toSeq)
    // IS NOT NULL: absent-column and all-null segments prune
    assert(!may(0, col("lang").isNotNull) && may(1, col("lang").isNotNull)
      && !may(2, col("lang").isNotNull))
    // IS NULL: the never-null segment prunes
    assert(may(0, col("lang").isNull) && !may(1, col("lang").isNull)
      && may(2, col("lang").isNull))
    // a comparison over a provably all-NULL column prunes even with no
    // value bounds at all
    assert(!may(0, col("lang") === "fr") && !may(2, col("lang") === "fr"))
    // NOT pushes through with 3-valued semantics: NOT(lang = 'fr') can
    // be TRUE on seg1 ('en' != 'fr') but never on an all-null segment
    assert(may(1, !(col("lang") === "fr")) && !may(2, !(col("lang") === "fr")))
    // read results agree with the unpruned scan in both directions
    assert(wh.readWhere("documents", col("lang").isNotNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(wh.readWhere("documents", col("lang").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    // readWhere(IS NOT NULL) plans ONLY seg1 (+ the seed frame)
    val pruned = wh.readWhere("documents", col("lang").isNotNull)
    assert(pruned.queryExecution.analyzed.collectLeaves().size == 2,
      s"expected 1 segment + seed, got:\n${pruned.queryExecution.analyzed.treeString}")
    // deleteWhere(IS NULL): seg1 is never probed — its directory and
    // manifest entry survive byte-identical
    val n = wh.deleteWhere("documents", col("lang").isNull)
    assert(n == 2L)
    val after = wh.currentManifest().tables("documents")
    assert(after.map(_.path).contains(segs(1).path),
      "never-null segment must keep its immutable directory")
    assert(wh.read("documents").select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("appendsSince: exactly the appended rows over a pure-append window; anything else fails loudly") {
    import spark.implicits._
    val wh = sw()
    wh.append("documents", Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars"))
    wh.append("documents", Seq((3L, 30L)).toDF("doc_id", "n_chars"))
    val v = wh.currentVersion()
    // two more appends, the second additively evolved
    wh.append("documents", Seq((4L, 40L)).toDF("doc_id", "n_chars"))
    wh.append("documents",
      Seq((5L, 50L, "en")).toDF("doc_id", "n_chars", "lang"))
    val inc = wh.appendsSince("documents", v)
    assert(inc.select("doc_id").as[Long].collect().toSet == Set(4L, 5L))
    // the pre-evolution appended segment reads the evolved column as NULL
    assert(inc.where(col("lang").isNull).count() == 1)
    // an empty window is an empty frame, not an error
    assert(wh.appendsSince("documents", wh.currentVersion()).count() == 0)
    // a takedown inside the window breaks pure-append: loud, named
    val v2 = wh.currentVersion()
    wh.deleteWhere("documents", col("doc_id") === 1L)
    val e = intercept[IllegalStateException] {
      wh.appendsSince("documents", v2)
    }
    assert(e.getMessage.contains("rewritten or removed") ||
      e.getMessage.contains("gained exclusions"))
    // compaction breaks it too
    val v3 = wh.currentVersion()
    wh.compact("documents")
    intercept[IllegalStateException] { wh.appendsSince("documents", v3) }
    // a fact-table replace (exclusion-list mutation) breaks it as well
    wh.append("fact_expression", facts(0 until 5, 1L))
    val v4 = wh.currentVersion()
    wh.replaceStudyPartitions("fact_expression", facts(10 until 12, 1L), Seq(1L))
    val e2 = intercept[IllegalStateException] {
      wh.appendsSince("fact_expression", v4)
    }
    assert(e2.getMessage.contains("gained exclusions"))
  }

  test("string-column stats: takedown keys like lang prune segments on equality/IN with the UTF-8 byte order") {
    import spark.implicits._
    val wh = sw()
    // one segment per language — the s19 layout
    Seq("de", "en", "zh").foreach { l =>
      wh.append("documents",
        (1L to 20L).map(i => (i, l, i % 5)).toDF("doc_id", "lang", "n_chars"))
    }
    val segs = wh.currentManifest().tables("documents")
    assert(segs.map(_.stringBounds("lang")) ==
      Seq(("de", "de"), ("en", "en"), ("zh", "zh")))
    val schema = wh.fullSchema(wh.currentManifest(), "documents")
    def may(i: Int, pred: org.apache.spark.sql.Column): Boolean =
      segs(i).mayMatch(wh.predExpression(pred, schema))
    // equality / IN prune the other languages, conjunction with an
    // unknown term still prunes (AND needs both sides possible)
    assert(!may(0, col("lang") === "zh") && may(2, col("lang") === "zh"))
    assert(!may(1, col("lang").isin("zh", "fr")) && may(2, col("lang").isin("zh", "fr")))
    assert(!may(0, col("lang") === "zh" && col("n_chars") % 2 === 0))
    // range over the byte order
    assert(!may(2, col("lang") < "en") && may(0, col("lang") < "en"))
    // a takedown by language launches jobs ONLY for the zh segment
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = wh.deleteWhere("documents", col("lang") === "zh" && col("doc_id") <= 10L)
      Thread.sleep(300)
      assert(n == 10L)
      assert(jobs.get() <= 3,
        s"string stats should prune de/en probes entirely, saw ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(wh.read("documents").count() == 50L)
    // long values (> 64 chars) are NOT stamped — and therefore never prune
    wh.append("documents",
      Seq((100L, "x" * 200, 1L)).toDF("doc_id", "lang", "n_chars"))
    val seg4 = wh.currentManifest().tables("documents").last
    assert(!seg4.stringBounds.contains("lang"))
    assert(seg4.mayMatch(wh.predExpression(col("lang") === "zh", schema)))
  }

  test("deleteWhere: NULL-predicate rows are KEPT (SQL DELETE semantics) and emptying a table leaves its schema readable") {
    val wh = sw()
    wh.append("documents", Seq((1L, 10L)).toDF("doc_id", "n_chars"))
    wh.append("documents",
      Seq((2L, 20L, "zh"), (3L, 30L, "en")).toDF("doc_id", "n_chars", "lang"))
    // doc 1 has lang NULL (pre-evolution): `lang = 'zh'` is NULL there,
    // and NULL must not delete
    val n = wh.deleteWhere("documents", col("lang") === "zh")
    assert(n == 1L)
    assert(wh.read("documents").select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L))
    // empty the table entirely: the read stays planful (schema carrier
    // segment), returning zero rows with the evolved schema
    assert(wh.deleteWhere("documents", lit(true)) == 2L)
    val emptied = wh.read("documents")
    assert(emptied.count() == 0)
    assert(emptied.columns.contains("doc_id"))
  }
}
