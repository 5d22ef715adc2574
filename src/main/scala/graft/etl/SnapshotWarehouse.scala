package graft.etl

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Snapshot-isolated parquet warehouse: cross-TABLE atomic publish.
  *
  * [[ParquetWarehouse]] makes each single-table write crash-recoverable,
  * but a load that touches several tables (the ETL writes up to 5
  * dims + the fact append, `EtlJob.processUnioned`) has windows where
  * a crash — or a concurrent reader — observes a MIXED generation: new dims with old
  * facts, or the moment of `replaceStudyPartitions`' roll-forward when
  * a study's old files are gone and its new ones not yet moved in. The
  * reference gives readers all-or-nothing per study through its
  * per-study transaction (reference
  * src/pipeline.py:271-301: rollback on error, commit at end); this
  * backend extends that contract to multi-table reader isolation, the
  * way a lakehouse table format does:
  *
  *  - data lives in IMMUTABLE segment directories
  *    (`<table>/seg-<uuid>`); nothing is ever deleted or renamed in
  *    place by a write;
  *  - a tiny versioned manifest (`_manifests/v%08d.json`) names, per
  *    table, the segment list that IS that table, plus per-segment
  *    `study_key` exclusion lists (how partition replace expresses
  *    deletion without deleting);
  *  - a load stages any number of segments, then publishes them ALL
  *    with one atomic manifest rename. A crash before the rename leaves
  *    only orphan directories no manifest references — readers never
  *    see any of the load. There is no observable intermediate state.
  *
  * Reader guarantees:
  *  - `read` resolves the manifest once at plan time; because segments
  *    are immutable, the resolved plan stays valid — and keeps
  *    returning its own consistent snapshot — even if a replace commits
  *    (or ten commits land) while the query runs. This closes
  *    [[ParquetWarehouse.replaceStudyPartitions]]'s roll-forward
  *    window entirely: the old generation's files still exist.
  *  - `readAt(version)` is time travel to any unvacuumed snapshot.
  *
  * Writer model: SINGLE writer per warehouse (the reference's model;
  * its SQLite deployments cannot do better). Conflicts are still
  * DETECTED, not silently merged: commit refuses to overwrite an
  * existing manifest version and throws [[ConcurrentWriteException]] —
  * best-effort on filesystems whose rename does not fail on an existing
  * destination (object stores without atomic rename need a real
  * catalog, the standard lakehouse caveat).
  *
  * Round-13 extensions (the training-data-lake surface):
  *  - a commit-time SCHEMA CONTRACT ([[SnapshotTxn]].validateSchema):
  *    dropped/retyped core columns are rejected loudly before anything
  *    publishes; extra columns are ADDITIVE evolution, recorded per
  *    segment in the manifest and read back as the union schema with
  *    NULLs (the s17 mergeSchema semantics, enforced instead of
  *    inferred);
  *  - EXTENSION tables beyond the star schema (a documents corpus):
  *    the first write defines the core, manifest-recorded;
  *  - [[deleteWhere]]: predicate-scoped delete (takedown/GDPR) that
  *    rewrites ONLY segments holding matching rows, in one atomic
  *    commit, preserving time travel up to the vacuum horizon.
  *
  * Scale: the manifest is driver-side metadata — bytes per table, one
  * small file per commit, independent of data volume. Reads plan a
  * union over the segment list, whose growth is bounded by
  * construction: any transaction that leaves a touched table above
  * `autoCompactSegments` segments folds it back to one segment inside
  * the SAME commit (so a daily append loop can never accumulate an
  * unbounded union), `compact` does the same on demand, and `vacuum`
  * drops unreferenced segments and pre-current manifests once no
  * reader needs them (retention is the operator's contract, as in
  * every table format). Segments of the tables partitioned by
  * `study_key` ([[Warehouse.layout]]: the facts and `dim_sample`) stay
  * hive-partitioned by it, so F7 partition pruning and exclusion-list
  * pruning both happen at the scan.
  */
class SnapshotWarehouse(spark: SparkSession, val baseDir: String,
    autoCompactSegments: Int = 16) extends Warehouse {
  import SnapshotWarehouse._
  import Warehouse.schemas

  private def fs: FileSystem =
    new HPath(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val manifestDir = new HPath(s"$baseDir/_manifests")

  // ---- manifest resolution -------------------------------------------

  private def listVersions(): Seq[Long] =
    if (!fs.exists(manifestDir)) Nil
    else fs.listStatus(manifestDir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted

  /** Latest committed snapshot version (0 = empty warehouse). */
  def currentVersion(): Long = listVersions().lastOption.getOrElse(0L)

  private[etl] def manifestAt(version: Long): Manifest =
    if (version == 0L) Manifest(0L, Map.empty)
    else {
      val p = new HPath(manifestDir, f"v$version%08d.json")
      if (!fs.exists(p))
        throw new IllegalArgumentException(
          s"snapshot v$version does not exist (vacuumed, or never committed)")
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      parseManifest(text)
    }

  private[etl] def currentManifest(): Manifest = manifestAt(currentVersion())

  /** The table's REQUIRED CORE schema: the declared star schema for the
    * reference tables, or — for extension tables (a documents corpus, a
    * feature table) — the columns of the table's first live segment,
    * which the first write defined (the S8 create-on-first-write idea
    * applied to the manifest backend). The core ratchets forward under
    * compaction: a rewrite's segment carries the union schema, which
    * then IS the core.
    */
  private[etl] def baseSchema(m: Manifest, table: String): StructType =
    schemas.getOrElse(table, {
      val first = m.tables.getOrElse(table, Nil).headOption
      first.map(s => SnapshotWarehouse.schemaOf(s.cols)).filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          s"unknown table '$table': not a declared star table and no " +
            "committed segment defines its schema"))
    })

  /** One segment's visible rows, read with the schema the manifest
    * stamped at write time (falling back to the table core for
    * pre-stats manifests) — explicit schemas keep partition columns at
    * their written types and keep planning off the footers.
    */
  private[etl] def readSegment(seg: Segment, base: StructType): DataFrame = {
    val segSchema =
      if (seg.cols.isEmpty) base else SnapshotWarehouse.schemaOf(seg.cols)
    val df = spark.read.schema(segSchema).parquet(s"$baseDir/${seg.path}")
    if (seg.exclude.isEmpty) df
    // study_key is a segment partition column, so the exclusion
    // prunes directories at the scan — no row-level delete files
    else df.where(!col("study_key").isin(seg.exclude: _*))
  }

  private[etl] def readTable(m: Manifest, table: String,
      onlyStudies: Option[Set[Long]] = None): DataFrame = {
    val base = baseSchema(m, table)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base)
    val segs = m.tables.getOrElse(table, Nil).filter { seg =>
      // manifest-level segment skipping: a segment whose stamped study
      // set (minus exclusions) cannot match the pushed study predicate
      // never reaches planning — no footer listing, no scan node. A
      // segment with unknown stats (pre-stats manifest, or a dim) is
      // always kept.
      onlyStudies.forall(want => seg.visibleStudies.forall(_.exists(want)))
    }
    // allowMissingColumns = the read half of ADDITIVE schema evolution
    // (the s17 mergeSchema contract on the manifest backend): a segment
    // written before a column existed contributes NULLs for it; the
    // union schema is core ++ additions in manifest order. The schema
    // CONTRACT at commit time (SnapshotTxn.validateSchema) guarantees
    // the name-aligned types agree, so this union can never silently
    // coerce.
    segs.foldLeft(empty) { (acc, seg) =>
      acc.unionByName(readSegment(seg, base), allowMissingColumns = true)
    }
  }

  // ---- Warehouse surface (each op = one single-op transaction) -------

  def read(table: String): DataFrame = readTable(currentManifest(), table)

  /** Time travel: the table exactly as snapshot `version` published it. */
  def readAt(table: String, version: Long): DataFrame =
    readTable(manifestAt(version), table)

  /** F7 study-predicate read that ALSO skips whole segments at
    * manifest-resolution time using the stamped per-segment study
    * sets — before any parquet footer is listed. Within the kept
    * segments the same predicate still pushes down as a hive
    * partition filter, so directory pruning applies twice: once on
    * the manifest, once at the scan.
    */
  override def readStudies(table: String, studyKeys: Seq[Long]): DataFrame = {
    require(studyKeys.nonEmpty, "studyKeys must be non-empty")
    readTable(currentManifest(), table, Some(studyKeys.toSet))
      .where(Warehouse.inSet("study_key", studyKeys))
  }

  /** Predicate read with MANIFEST-LEVEL stats pruning: segments whose
    * stamped long-column (min, max) bounds are provably disjoint from
    * `pred` never enter the plan — no file listing, no footer, no scan
    * node (the [[readStudies]] study-set skip generalized to arbitrary
    * range/equality/IN predicates over long columns). Within the kept
    * segments the same predicate still pushes into the parquet scan,
    * so skipping applies at three levels: manifest, partition
    * directory, row group. Rows where `pred` is NULL are excluded
    * (ordinary WHERE semantics).
    */
  def readWhere(table: String, pred: org.apache.spark.sql.Column): DataFrame = {
    val m = currentManifest()
    val base = baseSchema(m, table)
    val full = fullSchema(m, table)
    val predE = predExpression(pred, full)
    // seed the union with the FULL evolved schema, not the core: if the
    // predicate names an additive column and every segment carrying it
    // is stats-pruned, the trailing .where must still resolve — pruning
    // may never turn a well-formed query into an AnalysisException
    // (round-13 ADVICE finding). unionByName keeps the seed's column
    // order, so the result schema is fullSchema order either way.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    m.tables.getOrElse(table, Nil)
      .filter(_.mayMatch(predE, full.fieldNames.toSeq))
      .foldLeft(empty) { (acc, seg) =>
        acc.unionByName(readSegment(seg, base), allowMissingColumns = true)
      }
      .where(pred)
  }

  /** The table's FULL evolved schema: core ++ every additive column
    * any live segment carries, in first-seen order.
    */
  private[etl] def fullSchema(m: Manifest, table: String): StructType = {
    val core = baseSchema(m, table)
    val seen = scala.collection.mutable.LinkedHashMap[String, DataType]()
    core.fields.foreach(f => seen(f.name) = f.dataType)
    m.tables.getOrElse(table, Nil).foreach(_.cols.foreach { case (n, t) =>
      if (!seen.contains(n)) seen(n) = DataType.fromDDL(t) })
    StructType(seen.toSeq.map { case (n, t) => StructField(n, t, nullable = true) })
  }

  /** Resolve a user predicate Column against a schema and return its
    * Catalyst condition (Spark 4 Columns wrap ColumnNodes — analyzing
    * a dummy Filter is the public way back to an Expression the stats
    * pruner can pattern-match; an unresolvable column fails HERE with
    * the ordinary AnalysisException).
    */
  private[etl] def predExpression(pred: org.apache.spark.sql.Column,
      schema: StructType): org.apache.spark.sql.catalyst.expressions.Expression = {
    val dummy = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    dummy.where(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
  }

  /** Incremental read for append-mostly consumers (the downstream
    * training-data build that reprocesses only NEW documents): exactly
    * the rows commits after `fromVersion` APPENDED to `table`.
    *
    * Correct only over a pure-append window, and VERIFIED as such
    * against the manifests — every segment of `fromVersion` must still
    * be live with an unchanged exclusion list (a deleteWhere rewrite,
    * a partition replace, or a compaction in between makes "the new
    * rows" ill-defined at segment granularity). Anything else throws
    * with the offending segment named: the consumer must fall back to
    * a full re-read, never silently double- or under-count. Segments
    * are immutable, so the check is pure manifest metadata.
    */
  def appendsSince(table: String, fromVersion: Long): DataFrame =
    appendsBetween(table, fromVersion, currentVersion())

  /** [[appendsSince]] against a PINNED end snapshot: exactly the rows
    * commits in (fromVersion, toVersion] appended. A checkpointed
    * consumer needs the pinned form — resolving "current" twice (once
    * to record the offset, once to read) would race a concurrent
    * append into the read but not the offset, double-processing it on
    * the next poll.
    */
  def appendsBetween(table: String, fromVersion: Long, toVersion: Long): DataFrame = {
    val added = appendedSegments(table, fromVersion, toVersion)
    val base = baseSchema(manifestAt(toVersion), table)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base)
    added.foldLeft(empty) { (acc, seg) =>
      acc.unionByName(readSegment(seg, base), allowMissingColumns = true)
    }
  }

  /** The segments commits in (fromVersion, toVersion] appended to
    * `table`, after VERIFYING the window is pure-append (see
    * [[appendsSince]] — anything else throws IllegalStateException
    * naming the offending segment). Pure manifest metadata: no file
    * I/O, so a consumer can poll this cheaply before deciding to plan
    * a read.
    */
  private[etl] def appendedSegments(table: String, fromVersion: Long,
      toVersion: Long): Seq[Segment] = {
    require(toVersion >= fromVersion,
      s"toVersion v$toVersion precedes fromVersion v$fromVersion")
    val from = manifestAt(fromVersion)
    val cur = manifestAt(toVersion)
    val before = from.tables.getOrElse(table, Nil)
    val now = cur.tables.getOrElse(table, Nil)
    val nowByPath = now.map(s => s.path -> s).toMap
    before.foreach { old =>
      nowByPath.get(old.path) match {
        case Some(n) if n.exclude == old.exclude => ()
        case Some(_) => throw new IllegalStateException(
          s"appendsSince($table, v$fromVersion..v$toVersion): segment ${old.path} gained " +
            "exclusions since the base snapshot (a replace/delete ran) — " +
            "not a pure-append window; re-read the full table")
        case None => throw new IllegalStateException(
          s"appendsSince($table, v$fromVersion..v$toVersion): segment ${old.path} was " +
            "rewritten or removed since the base snapshot (compaction, " +
            "delete, or replace) — not a pure-append window; re-read the " +
            "full table")
      }
    }
    val beforePaths = before.map(_.path).toSet
    val added = now.filterNot(s => beforePaths(s.path))
    added.find(_.exclude.nonEmpty).foreach { s =>
      throw new IllegalStateException(
        s"appendsSince($table, v$fromVersion..v$toVersion): new segment ${s.path} carries " +
          "exclusions — not a pure-append window; re-read the full table")
    }
    added
  }

  private[etl] def sparkSession: SparkSession = spark

  def writeDim(table: String, df: DataFrame): Unit =
    transact(_.writeDim(table, df))

  def append(table: String, df: DataFrame): Unit =
    transact(_.append(table, df))

  def replaceStudyPartitions(table: String, df: DataFrame, studyKeys: Seq[Long]): Unit =
    transact(_.replaceStudyPartitions(table, df, studyKeys))

  /** Predicate-scoped delete (takedown / GDPR erasure) WITHOUT a table
    * rewrite: only segments that actually hold matching rows are
    * rewritten (minus the matches); every untouched segment keeps its
    * immutable directory and its manifest entry byte-for-byte — at
    * 100 TB a takedown of one document family rewrites kilobytes, not
    * the lake. All rewrites land in ONE atomic commit; prior snapshots
    * still reference the pre-delete segments, so time travel shows the
    * deleted rows until [[vacuum]] ages them out (the erasure horizon
    * is `vacuum`'s retention contract, as in every table format).
    *
    * Per-segment affectedness is decided by a probe scan of the
    * predicate, which parquet row-group stats and partition pruning
    * keep footer-cheap on non-matching segments. SQL semantics: a row
    * is deleted iff the predicate is TRUE — NULL-predicate rows are
    * KEPT (`DELETE WHERE p` keeps NOT(p-is-true), not NOT(p)).
    *
    * Returns the number of rows deleted.
    */
  def deleteWhere(table: String, pred: Column): Long =
    transact(_.deleteWhere(table, pred))

  // ---- transactions ---------------------------------------------------

  /** Run `f` against a transaction view of the CURRENT snapshot: reads
    * see the base snapshot plus this transaction's own writes
    * (read-your-writes — the ETL reads a dim back right after
    * upserting it); nothing becomes visible to any other reader until
    * the single manifest rename at the end. If `f` throws, NOTHING is
    * published — staged segments are orphans that the next [[vacuum]]
    * sweeps, which is the crash story too (a killed JVM is
    * indistinguishable from a thrown `f`).
    */
  def transact[A](f: SnapshotTxn => A): A = {
    val base = currentManifest()
    val txn = new SnapshotTxn(spark, baseDir, base, this)
    val out = f(txn)
    // maintenance rides the SAME commit: a table this transaction
    // touched whose segment list outgrew the cadence threshold folds
    // back to one segment before the manifest rename, so a daily
    // append loop can never accumulate an unbounded read-side union
    // (the ADVICE-flagged failure mode of manual-only compaction).
    // Untouched tables are never rewritten behind a caller's back.
    if (autoCompactSegments > 0)
      txn.pendingTables.collect {
        case (table, segs) if segs.size > autoCompactSegments => table
      }.foreach(t => txn.rewrite(t, null))
    commitWithRebase(base, txn.pendingTables)
    out
  }

  /** Maximum disjoint-table rebase attempts before surfacing the
    * conflict — bounded so a commit storm cannot spin forever.
    */
  private[etl] var maxRebaseAttempts: Int = 5

  /** Optimistic concurrency (round 14): a [[ConcurrentWriteException]]
    * from [[commit]] only proves ANOTHER writer advanced the manifest
    * first — not that the two transactions conflict. When the winners'
    * touched tables are DISJOINT from ours, rebasing is sound by
    * construction: our pending segment lists were derived from table
    * states no winner changed, so re-pointing the same pending entries
    * at the new snapshot publishes the identical logical outcome (the
    * standard lakehouse OCC contract). Any overlap keeps the strict
    * behavior — a rebase there would silently drop the winner's
    * segments (pending REPLACES the table's list wholesale), which is
    * exactly the lost update the exception exists to prevent.
    */
  private def commitWithRebase(base0: Manifest,
      pending: Map[String, Seq[Segment]]): Unit = {
    var base = base0
    var attempts = 0
    while (true) {
      try { commit(base, pending); return }
      catch {
        case e: ConcurrentWriteException =>
          attempts += 1
          if (attempts > maxRebaseAttempts) throw e
          val cur = currentManifest()
          // no new snapshot ⇒ the failure was lock contention/deadline,
          // not a lost CAS race — rebasing cannot help
          if (cur.version == base.version) throw e
          val changed = (cur.tables.keySet ++ base.tables.keySet).filter { t =>
            cur.tables.getOrElse(t, Nil) != base.tables.getOrElse(t, Nil)
          }
          if (changed.exists(pending.contains)) throw e
          base = cur
      }
    }
  }

  private def commit(base: Manifest, pending: Map[String, Seq[Segment]]): Unit = {
    if (pending.isEmpty) return
    val next = Manifest(base.version + 1, base.tables ++ pending)
    if (!fs.exists(manifestDir)) fs.mkdirs(manifestDir)
    // serialize the exists+rename CAS under a create-exclusive lock
    // file. The acquire primitive is scheme-dependent (see
    // tryAcquireLock): HDFS makes create(overwrite=false) a single
    // atomic namenode RPC, but Hadoop's LOCAL FileSystem implements it
    // as an exists() check followed by an ordinary open — check-then-
    // act, NOT atomic — so local schemes go through
    // java.io.File.createNewFile (true O_EXCL). A crashed holder is
    // healed by the staleness horizon below; object stores with
    // non-atomic create still need a real catalog — the standard
    // lakehouse caveat, now narrowed to only that case.
    withCommitLock {
      val tmp = new HPath(manifestDir, s"_tmp_${UUID.randomUUID().toString.replace("-", "")}.json")
      val out = fs.create(tmp, false)
      try out.write(renderManifest(next).getBytes("UTF-8"))
      finally out.close()
      val target = new HPath(manifestDir, f"v${next.version}%08d.json")
      if (fs.exists(target) || !fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        throw new ConcurrentWriteException(
          s"snapshot v${next.version} was committed by another writer " +
            s"(base was v${base.version}); retry against the new snapshot")
      }
    }
  }

  /** How long a commit-lock file may sit before another writer treats
    * it as a crash leftover and breaks it. Commits are manifest-rename
    * cheap (milliseconds), so minutes of staleness means a dead JVM.
    */
  private[etl] var lockStaleMs: Long = 10 * 60 * 1000L

  /** Acquire the lock with a primitive that is ATOMIC on this scheme.
    *
    * `fs.create(path, overwrite=false)` is atomic on HDFS (one
    * namenode RPC) but NOT on Hadoop's LocalFileSystem /
    * RawLocalFileSystem, which implement it as `exists()` followed by
    * an ordinary `FileOutputStream` — check-then-act. Two threads
    * racing that check both "acquire", then both commit, and local-FS
    * rename overwrites: a silent lost update (this exact two-winners
    * outcome was observed in the round-8 suite). For `file:` schemes
    * we therefore go through `java.io.File.createNewFile()`, which the
    * JDK implements with O_CREAT|O_EXCL — a true atomic
    * create-if-absent at the kernel level, across threads AND
    * processes.
    */
  private def tryAcquireLock(lock: HPath): Boolean =
    if (fs.getScheme == "file")
      // IOException (transient local-FS error, e.g. EMFILE or a
      // permissions hiccup) maps to "not acquired" so the caller's
      // retry/deadline loop absorbs it — same failure semantics as the
      // non-file branch below, rather than aborting the transaction.
      try {
        val f = new java.io.File(lock.toUri.getPath)
        f.getParentFile.mkdirs()
        f.createNewFile()
      } catch { case _: java.io.IOException => false }
    else
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }

  private def withCommitLock[A](body: => A): A = {
    val lock = new HPath(manifestDir, "_commit.lock")
    val deadline = System.currentTimeMillis() + 30 * 1000L
    var held = false
    while (!held) {
      if (tryAcquireLock(lock)) held = true
      else {
        val st = try Some(fs.getFileStatus(lock)) catch {
          case _: java.io.FileNotFoundException => None }
        st match {
          case Some(s) if System.currentTimeMillis() - s.getModificationTime > lockStaleMs =>
            breakStaleLock(lock, s.getModificationTime)
          case _ if System.currentTimeMillis() > deadline =>
            throw new ConcurrentWriteException(
              "commit lock held past the wait deadline; another writer is " +
                "committing (or died within the staleness horizon)")
          case _ => Thread.sleep(50)
        }
      }
    }
    try body finally fs.delete(lock, false)
  }

  /** Break a lock left by a crashed holder, without racing a live one.
    *
    * A bare `fs.delete(lock)` here is a TOCTOU hazard: two waiters can
    * both judge the lock stale; after waiter A deletes it and
    * re-creates a FRESH lock, waiter B's unconditional delete would
    * remove A's fresh lock and let both into the commit section. Two
    * defenses, applied together:
    *
    *  1. re-stat immediately before acting and proceed only if the
    *     modification time still equals the stale timestamp observed
    *     earlier — a fresh lock (new create) has a new mtime;
    *  2. act by RENAMING the lock to a unique tombstone rather than
    *     deleting it: of two breakers racing the same stale lock,
    *     exactly one rename of that source can succeed, so the loser
    *     cannot go on to damage anything — it just re-loops and waits.
    *
    * The stat→rename gap is still a window: if breaker A breaks the
    * stale lock and a writer acquires a FRESH lock inside B's
    * stat→rename gap, B's rename captures the live lock. Defense 3
    * detects exactly that after the fact — the rename is a MOVE, not a
    * destroy, so the captured file is intact in the tombstone: re-stat
    * the tombstone, and if its mtime does NOT equal the stale mtime we
    * observed, we grabbed a fresh lock by mistake — rename it straight
    * back to the lock path (the live holder never sees a gap longer
    * than the two renames) and treat the break as failed. Only a
    * tombstone whose mtime confirms it IS the stale file gets deleted.
    * The remaining unprotected interleaving needs a third writer
    * acquiring and ALSO committing entirely within that double-rename
    * window — microseconds against a minutes-scale staleness horizon;
    * fully closing it needs a compare-and-swap primitive path
    * filesystems don't offer (the real-catalog caveat documented at
    * [[commit]]).
    */
  private def breakStaleLock(lock: HPath, observedMtime: Long): Unit = {
    val still = try Some(fs.getFileStatus(lock)) catch {
      case _: java.io.FileNotFoundException => None }
    if (still.exists(_.getModificationTime == observedMtime)) {
      val tomb = new HPath(manifestDir,
        s"_stale_${UUID.randomUUID().toString.replace("-", "")}.lock")
      val broke = try fs.rename(lock, tomb) catch {
        case _: java.io.IOException => false }
      if (broke) settleTombstone(tomb, lock, observedMtime)
    }
  }

  /** Defense 3's decision, factored out so the capture case is
    * deterministically testable (the live race window itself is
    * microseconds): delete the tombstone ONLY when its mtime proves it
    * is the stale file we observed; anything else means the rename
    * captured a FRESH lock — rename it straight back. Returns true
    * when the stale lock was destroyed, false when a captured lock
    * was restored (or left as a vacuum orphan on restore failure —
    * never delete a lock we can't identify).
    */
  private[etl] def settleTombstone(tomb: HPath, lock: HPath,
      observedMtime: Long): Boolean = {
    val tombMtime = try Some(fs.getFileStatus(tomb).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    if (tombMtime.contains(observedMtime)) { fs.delete(tomb, false); true }
    else {
      // rename returns FALSE (no exception) if a third writer re-created
      // the lock path inside the double-rename window — the captured
      // fresh lock would be orphaned as a tombstone while its holder
      // believes it still holds the lock. Retry once (the re-created
      // lock may itself have vanished), then leave a LOUD audit trail:
      // the orphan means two writers may interleave the critical
      // section, which is the documented residual race — it must never
      // fail silently.
      val restored = try fs.rename(tomb, lock) catch {
        case _: java.io.IOException => false }
      if (!restored) {
        val retried = try fs.rename(tomb, lock) catch {
          case _: java.io.IOException => false }
        if (!retried) org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "settleTombstone: could not restore captured fresh lock {} -> {} " +
            "(lock path re-created by a third writer during the double-rename " +
            "window); the captured lock is orphaned as a tombstone and its " +
            "holder may run concurrently with the new holder — vacuum will " +
            "collect the orphan, but this write window is NOT mutually excluded",
          tomb, lock)
      }
      false
    }
  }

  // ---- maintenance -----------------------------------------------------

  /** Fold `table` back to a single segment (same visible rows, one
    * directory) and commit that as a new snapshot. Old segments become
    * garbage for [[vacuum]]; readers mid-flight on older snapshots are
    * untouched because nothing is deleted here.
    */
  def compact(table: String): Unit = transact(_.rewrite(table, null))

  /** Delete every segment directory not referenced by the newest
    * `keepVersions` manifests, and every manifest older than those.
    * Destroys time travel past the retention horizon and any
    * still-running reader of it — the standard lakehouse vacuum
    * contract: `keepVersions` IS the reader-retention horizon
    * (default 1 = only the current snapshot survives).
    *
    * An UNREFERENCED segment is deleted only once it is older than
    * `orphanGraceMs` (directory mtime). This is what makes vacuum safe
    * to run concurrently with a load: a still-in-flight [[transact]]
    * has staged segments that no manifest references YET — without the
    * grace window a racing vacuum would delete them and let the load
    * commit a manifest pointing at nothing (silent data loss on the
    * new snapshot). The default gives an in-flight transaction a day
    * to reach its commit; pass 0 only when you KNOW no transaction is
    * running (e.g. single-process tests). Referenced-but-expired
    * segments (old snapshots past `keepVersions`) carry no such race
    * and are deleted regardless of age.
    */
  def vacuum(keepVersions: Int = 1,
      orphanGraceMs: Long = 24 * 60 * 60 * 1000L): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    require(orphanGraceMs >= 0, s"orphanGraceMs must be >= 0, got $orphanGraceMs")
    val versions = listVersions()
    val kept = versions.takeRight(keepVersions)
    val live = kept.flatMap(v => manifestAt(v).tables.values.flatten.map(_.path)).toSet
    // segments any historical manifest EVER referenced: unreferenced-
    // but-expired (safe to drop at any age) vs never-referenced
    // (possibly a staging in-flight transaction — age-gated)
    val everReferenced =
      versions.flatMap(v => manifestAt(v).tables.values.flatten.map(_.path)).toSet
    val now = System.currentTimeMillis()
    // table discovery from the DIRECTORY listing, not the declared
    // star schema: extension tables (a documents corpus) live under the
    // same root and their dead segments must age out the same way
    val tableDirs =
      if (!fs.exists(new HPath(baseDir))) Nil
      else fs.listStatus(new HPath(baseDir)).toSeq
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
    tableDirs.foreach { td =>
      val table = td.getPath.getName
      fs.listStatus(td.getPath).foreach { st =>
        val rel = s"$table/${st.getPath.getName}"
        val isSeg = st.getPath.getName.startsWith("seg-")
        val dead = isSeg && !live.contains(rel) &&
          (everReferenced.contains(rel) ||
            now - st.getModificationTime > orphanGraceMs)
        if (dead) fs.delete(st.getPath, true)
      }
    }
    versions.dropRight(keepVersions).foreach { v =>
      fs.delete(new HPath(manifestDir, f"v$v%08d.json"), false)
    }
    fs.listStatus(manifestDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_tmp_") && now - st.getModificationTime > orphanGraceMs)
        fs.delete(st.getPath, false)
    }
  }
}

/** The transaction view: implements [[Warehouse]] so every existing
  * consumer — `Dims`, `StudyState`, the whole `EtlJob` publish phase —
  * runs unchanged inside a transaction. Writes stage immutable
  * segments and buffer manifest entries; reads resolve pending entries
  * first, then the base snapshot.
  */
final class SnapshotTxn private[etl] (spark: SparkSession, baseDir: String,
    base: SnapshotWarehouse.Manifest, owner: SnapshotWarehouse) extends Warehouse {
  import SnapshotWarehouse._
  import Warehouse.schemas

  // Guarded by its own lock: a load's independent branches stage
  // segments of distinct tables into one transaction from several
  // threads. Segment writes run outside the lock; only the manifest
  // entries are read and swapped under it.
  private val pending = scala.collection.mutable.LinkedHashMap[String, Seq[Segment]]()

  private[etl] def pendingTables: Map[String, Seq[Segment]] = pending.synchronized(pending.toMap)

  private def entry(table: String): Seq[Segment] = pending.synchronized(
    pending.getOrElse(table, base.tables.getOrElse(table, Nil)))

  private def view: Manifest = pending.synchronized(Manifest(base.version, base.tables ++ pending))

  private def stage(table: String)(segments: Seq[Segment] => Seq[Segment]): Unit =
    pending.synchronized { pending(table) = segments(entry(table)) }

  def read(table: String): DataFrame = owner.readTable(view, table)

  /** The commit-time SCHEMA CONTRACT (nothing a transaction stages is
    * visible before the manifest rename, so rejecting here rejects the
    * commit): every core column — the declared star schema, or the
    * first write's schema for an extension table — must be present
    * with EXACTLY its core type (a drifted writer fails loudly instead
    * of committing a segment the declared-schema read would silently
    * null out); extra columns are ADDITIVE evolution and are accepted,
    * provided their type agrees with every live segment that already
    * carries a same-named column (so the read-side unionByName can
    * never coerce). Nullability is not part of the contract — parquet
    * reads everything nullable.
    */
  private def validateSchema(table: String, df: DataFrame): Unit = {
    val live = entry(table)
    val core: Seq[StructField] = Warehouse.schemas.get(table)
      .map(_.fields.toSeq)
      .orElse(live.headOption.map(s =>
        SnapshotWarehouse.schemaOf(s.cols).fields.toSeq).filter(_.nonEmpty))
      .getOrElse(Nil) // first write of a NEW table: df defines the core
    val dfTypes: Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    core.foreach { f =>
      dfTypes.get(f.name) match {
        case None => throw new SchemaContractViolation(
          s"table '$table': segment is missing required column " +
            s"'${f.name} ${f.dataType.catalogString}' — the snapshot " +
            "contract rejects dropped core columns at commit")
        case Some(dt) if dt != f.dataType => throw new SchemaContractViolation(
          s"table '$table': column '${f.name}' has incompatible type " +
            s"${dt.catalogString} (table declares ${f.dataType.catalogString}) " +
            "— the snapshot contract rejects type drift at commit")
        case _ => ()
      }
    }
    val known: Map[String, DataType] =
      live.flatMap(_.cols.map { case (n, t) => n -> DataType.fromDDL(t) }).toMap ++
        core.map(f => f.name -> f.dataType)
    df.schema.fields.foreach { f =>
      known.get(f.name).foreach { kt =>
        if (kt != f.dataType) throw new SchemaContractViolation(
          s"table '$table': additive column '${f.name}' was previously " +
            s"committed as ${kt.catalogString}, this segment carries " +
            s"${f.dataType.catalogString} — additive evolution must be " +
            "type-consistent")
      }
    }
  }

  /** Segments follow [[Warehouse.layout]]: tables that refer to a
    * study partition by `study_key` inside each segment (F7 pruning,
    * segment study sets); other star tables are one file per segment; EXTENSION tables (not in the declared star schema — a
    * documents corpus) keep their natural partitioning, because a
    * corpus segment is not dim-tiny and a coalesce(1) would
    * single-thread the write.
    */
  private[etl] def writeSegment(table: String, df: DataFrame): Segment = {
    validateSchema(table, df)
    val rel = s"$table/seg-${UUID.randomUUID().toString.replace("-", "")}"
    val partitioned = Warehouse.partitionedByStudy(table)
    val w = Warehouse.layout(table, df).mode(SaveMode.ErrorIfExists)
    w.parquet(s"$baseDir/$rel")
    // stamp segment stats from write-side metadata only: the row count
    // AND the per-column long (min, max) bounds come from the parquet
    // FOOTERS the write just produced (round 13 — replacing the Spark
    // count job with a driver-side metadata read), the study set from
    // the hive partition directory NAMES — all O(files), never
    // O(rows). The column list is the segment's schema of record: the
    // read plans from it, never from footers, and evolution-aware
    // unions fill what's absent.
    val abs = new HPath(s"$baseDir/$rel")
    val fs = abs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segStats =
      StatsPruning.collectSegStats(spark.sparkContext.hadoopConfiguration, abs)
    val (rows, fileStats, strStats) =
      (segStats.rows, segStats.longBounds, segStats.strBounds)
    val studies =
      if (!partitioned) Nil
      else fs.listStatus(abs).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("study_key="))
        .map(_.stripPrefix("study_key=").toLong).sorted
    // the partition column never appears in the data files — its bounds
    // come from the directory names, so study predicates prune too
    val lstats = (fileStats ++
      (if (studies.nonEmpty) Map("study_key" -> (studies.min, studies.max)) else Map.empty))
      .toSeq.map { case (n, (lo, hi)) => (n, lo, hi) }.sortBy(_._1)
    // the hive partition column's values come from directory names and
    // are never null (a null partition would land in the HIVE_DEFAULT
    // dir, whose name the studies parse above would already reject)
    val nstats = (segStats.nullCounts ++
      (if (studies.nonEmpty) Map("study_key" -> 0L) else Map.empty))
      .toSeq.sortBy(_._1)
    Segment(rel, Nil, rows, studies,
      df.schema.fields.map(f => f.name -> f.dataType.catalogString).toSeq,
      lstats,
      strStats.toSeq.map { case (n, (lo, hi)) => (n, lo, hi) }.sortBy(_._1),
      nstats)
  }

  def writeDim(table: String, df: DataFrame): Unit = {
    // the incoming frame's plan may READ this table's current segments
    // (read-modify-write, e.g. StudyState.upsert) — safe, because the
    // write lands in a fresh directory and the sources are immutable;
    // ParquetWarehouse needed a 3-rename dance for exactly this
    val seg = writeSegment(table, df)
    stage(table)(_ => Seq(seg))
  }

  def append(table: String, df: DataFrame): Unit = {
    val seg = writeSegment(table, df)
    stage(table)(_ :+ seg)
  }

  /** S7 delete-then-insert without the delete: prior segments get the
    * studies masked via their exclusion lists (directory-pruned at
    * scan), the replacement rows land as one new segment. A study
    * whose recomputation is EMPTY still loses its stale rows — the
    * exclusion does that part, no rows required.
    */
  def replaceStudyPartitions(table: String, df: DataFrame, studyKeys: Seq[Long]): Unit = {
    if (studyKeys.isEmpty) return
    val seg = writeSegment(table, df)
    stage(table)(_.map(s =>
      s.copy(exclude = (s.exclude ++ studyKeys).distinct.sorted)) :+ seg)
  }

  /** Rewrite `table` as one segment holding exactly its current visible
    * rows (`df == null` ⇒ read them from this transaction's view) —
    * the compaction primitive.
    */
  private[etl] def rewrite(table: String, df: DataFrame): Unit = {
    val seg = writeSegment(table, Option(df).getOrElse(read(table)))
    stage(table)(_ => Seq(seg))
  }

  /** Predicate-scoped delete — see [[SnapshotWarehouse.deleteWhere]]
    * for the contract. Segment-local: each live segment is probed for
    * matching VISIBLE rows; a clean segment keeps its manifest entry
    * (and directory) untouched, a hit segment is rewritten minus the
    * matches. Returns rows deleted.
    */
  private[etl] def deleteWhere(table: String, pred: Column): Long = {
    val core = owner.baseSchema(view, table)
    // the FULL evolved schema (core ++ every additive column any live
    // segment carries): a predicate naming an additive column must
    // still evaluate on pre-evolution segments — those rows read the
    // column as NULL, and NULL must not delete — so each segment is
    // widened with NULL-filled absentees for the probe only; rewrites
    // keep the segment's own (lean) schema.
    val full: Seq[(String, DataType)] = {
      val seen = scala.collection.mutable.LinkedHashMap[String, DataType]()
      core.fields.foreach(f => seen(f.name) = f.dataType)
      entry(table).foreach(_.cols.foreach { case (n, t) =>
        if (!seen.contains(n)) seen(n) = DataType.fromDDL(t) })
      seen.toSeq
    }
    // TRUE deletes; NULL/false keeps (SQL DELETE semantics)
    val hit = coalesce(pred.cast("boolean"), lit(false))
    val predE = owner.predExpression(pred,
      StructType(full.map { case (n, t) => StructField(n, t, nullable = true) }))
    var deleted = 0L
    val kept = scala.collection.mutable.ArrayBuffer[Segment]()
    var schemaCarrier: Option[Segment] = None
    entry(table).foreach { seg =>
      // manifest-level stats pruning FIRST (round 13): a segment whose
      // stamped long-column bounds are provably disjoint from the
      // predicate never launches a probe job at all — at a
      // many-segment lake this is the difference between one job per
      // TOUCHED segment and one job per segment
      if (!seg.mayMatch(predE, full.map(_._1))) kept += seg
      else {
        val visible = owner.readSegment(seg, core)
        val have = visible.columns.toSet
        val widened = full.filterNot(c => have(c._1)).foldLeft(visible) {
          case (df, (nm, dt)) => df.withColumn(nm, lit(null).cast(dt))
        }
        // the probe is a count over the pushed-down predicate: parquet
        // row-group stats + the study_key partition pruning make it
        // footer-cheap on segments with no matches
        val n = widened.where(hit).count()
        if (n == 0L) kept += seg
        else {
          deleted += n
          val rewritten = writeSegment(table, widened.where(not(hit))
            .select(visible.columns.toIndexedSeq.map(col): _*))
          if (rewritten.rows > 0L) kept += rewritten
          // an emptied segment normally just drops out of the manifest,
          // but if the WHOLE table empties, one zero-row segment stays
          // as the schema of record (extension tables have no declared
          // schema to fall back to)
          else schemaCarrier = Some(rewritten)
        }
      }
    }
    stage(table)(_ => if (kept.nonEmpty) kept.toSeq else schemaCarrier.toSeq)
    deleted
  }
}

class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** A writer tried to commit a segment whose schema breaks the table's
  * contract (dropped/retyped core column, or a type-inconsistent
  * additive column) — thrown BEFORE the manifest rename, so nothing of
  * the transaction publishes.
  */
class SchemaContractViolation(msg: String) extends RuntimeException(msg)

object SnapshotWarehouse {

  /** One immutable data directory plus the study keys masked out of it
    * (how replace expresses deletion without deleting), and the
    * segment-level statistics stamped at write time: `rows` (exact row
    * count from the parquet footers) and, for fact segments, the
    * `study_key` set (from the hive partition directory names — no
    * data read). Stats let [[SnapshotWarehouse.readStudies]] drop
    * whole segments at MANIFEST-resolution time, before a single
    * parquet footer is listed — the lakehouse file-skipping idea one
    * level up. `rows == -1` marks a pre-stats manifest (unknown:
    * always read).
    */
  case class Segment(path: String, exclude: Seq[Long],
      rows: Long = -1L, studies: Seq[Long] = Nil,
      cols: Seq[(String, String)] = Nil,
      lstats: Seq[(String, Long, Long)] = Nil,
      sstats: Seq[(String, String, String)] = Nil,
      nstats: Seq[(String, Long)] = Nil) {
    /** Studies a reader can still see through this segment (None =
      * stats unknown or not a by-study segment — cannot skip).
      */
    def visibleStudies: Option[Set[Long]] =
      if (rows < 0L || (rows > 0L && studies.isEmpty)) None
      else Some(studies.toSet -- exclude)

    /** Per-column long bounds as a lookup map (empty = pre-stats
      * manifest: nothing is provable, nothing skips).
      */
    def longBounds: Map[String, (Long, Long)] =
      lstats.map { case (n, lo, hi) => n -> (lo, hi) }.toMap

    /** Per-column UTF-8 string bounds (takedown keys like lang/source
      * are strings — equality predicates on them prune too).
      */
    def stringBounds: Map[String, (String, String)] =
      sstats.map { case (n, lo, hi) => n -> (lo, hi) }.toMap

    /** Per-column exact NULL counts over the segment's physical rows
      * (round 14) — `IS [NOT] NULL` probes and all-null-column
      * comparisons prune on these.
      */
    def nullCounts: Map[String, Long] = nstats.toMap

    /** Driver-side prunability: can any physical row satisfy the
      * (analyzed) predicate? Conservative — only provable
      * disjointness answers false. `fullCols` is the table's full
      * evolved column set: a column this segment does NOT carry (but
      * whose schema of record is known) reads as all-NULL here, which
      * is itself a provable fact — `lang IS NOT NULL` prunes every
      * pre-evolution segment without touching a footer.
      */
    def mayMatch(pred: org.apache.spark.sql.catalyst.expressions.Expression,
        fullCols: Iterable[String] = Nil): Boolean = {
      val absent: Map[String, Long] =
        if (cols.isEmpty || rows < 0L) Map.empty
        else {
          val have = cols.map(_._1).toSet
          fullCols.iterator.filterNot(have).map(_ -> rows).toMap
        }
      StatsPruning.mayMatch(pred, longBounds, stringBounds,
        nullCounts ++ absent, rows)
    }
  }

  /** Reconstruct a segment's schema of record from its manifest column
    * list (name, Spark DDL type). Everything reads nullable — parquet
    * cannot promise more, and the evolution-aware union fills NULLs
    * anyway. Empty cols (a pre-round-13 manifest) → empty StructType;
    * callers fall back to the table core.
    */
  private[etl] def schemaOf(cols: Seq[(String, String)]): StructType =
    StructType(cols.map { case (n, t) =>
      StructField(n, DataType.fromDDL(t), nullable = true) })

  case class Manifest(version: Long, tables: Map[String, Seq[Segment]])

  /** Hand-rendered for a stable field order; parsed with Jackson (on
    * the Spark classpath) for robustness.
    */
  private[etl] def renderManifest(m: Manifest): String = {
    def seg(s: Segment): String = {
      val cols = s.cols.map { case (n, t) =>
        s"[${graft.JsonUtil.quote(n)},${graft.JsonUtil.quote(t)}]"
      }.mkString(",")
      val lstats = s.lstats.map { case (n, lo, hi) =>
        s"[${graft.JsonUtil.quote(n)},$lo,$hi]"
      }.mkString(",")
      val sstats = s.sstats.map { case (n, lo, hi) =>
        s"[${graft.JsonUtil.quote(n)},${graft.JsonUtil.quote(lo)},${graft.JsonUtil.quote(hi)}]"
      }.mkString(",")
      val nstats = s.nstats.map { case (n, c) =>
        s"[${graft.JsonUtil.quote(n)},$c]"
      }.mkString(",")
      s"""{"path":${graft.JsonUtil.quote(s.path)},"exclude":[${s.exclude.mkString(",")}],""" +
        s""""rows":${s.rows},"studies":[${s.studies.mkString(",")}],"cols":[$cols],""" +
        s""""lstats":[$lstats],"sstats":[$sstats],"nstats":[$nstats]}"""
    }
    val tables = m.tables.toSeq.sortBy(_._1).map { case (t, segs) =>
      s"${graft.JsonUtil.quote(t)}:[${segs.map(seg).mkString(",")}]"
    }.mkString(",")
    s"""{"version":${m.version},"tables":{$tables}}"""
  }

  private[etl] def parseManifest(text: String): Manifest = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    val tables = scala.collection.mutable.LinkedHashMap[String, Seq[Segment]]()
    val it = root.get("tables").fields()
    while (it.hasNext) {
      val e = it.next()
      val segs = scala.collection.mutable.ArrayBuffer[Segment]()
      e.getValue.forEach { s =>
        val ex = scala.collection.mutable.ArrayBuffer[Long]()
        s.get("exclude").forEach(x => ex += x.asLong())
        // stats fields are optional: a pre-stats manifest reads as
        // rows = -1 (unknown → never skipped), cols = Nil (unknown →
        // the table core is the segment's schema of record)
        val rows = Option(s.get("rows")).map(_.asLong()).getOrElse(-1L)
        val st = scala.collection.mutable.ArrayBuffer[Long]()
        Option(s.get("studies")).foreach(_.forEach(x => st += x.asLong()))
        val cs = scala.collection.mutable.ArrayBuffer[(String, String)]()
        Option(s.get("cols")).foreach(_.forEach(c =>
          cs += ((c.get(0).asText(), c.get(1).asText()))))
        val ls = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
        Option(s.get("lstats")).foreach(_.forEach(c =>
          ls += ((c.get(0).asText(), c.get(1).asLong(), c.get(2).asLong()))))
        val ss = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
        Option(s.get("sstats")).foreach(_.forEach(c =>
          ss += ((c.get(0).asText(), c.get(1).asText(), c.get(2).asText()))))
        val ns = scala.collection.mutable.ArrayBuffer[(String, Long)]()
        Option(s.get("nstats")).foreach(_.forEach(c =>
          ns += ((c.get(0).asText(), c.get(1).asLong()))))
        segs += Segment(s.get("path").asText(), ex.toSeq, rows, st.toSeq,
          cs.toSeq, ls.toSeq, ss.toSeq, ns.toSeq)
      }
      tables(e.getKey) = segs.toSeq
    }
    Manifest(root.get("version").asLong(), tables.toMap)
  }
}
