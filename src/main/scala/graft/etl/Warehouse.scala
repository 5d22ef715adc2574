package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}

/** Star-schema warehouse interface (SURVEY.md §2.1 S5-S8).
  *
  * Two backends, selected by [[Warehouse.apply]] on the connection
  * string — the same dispatch the reference does on its SQLAlchemy URL
  * (reference database.py:19-60):
  *
  *  - [[ParquetWarehouse]] (default): partitioned parquet, the scale
  *    path — a directory/URI target.
  *  - [[JdbcWarehouse]]: any JDBC URL (`jdbc:derby:...`,
  *    `jdbc:postgresql://...`), the compatibility path matching the
  *    reference's SQLite/SQL Server/Postgres deployments.
  *
  * The contract either backend must honor:
  *  - `read` of an absent table is an EMPTY frame with the declared
  *    schema, in declared column order (S8 create-on-first-write
  *    bootstrap);
  *  - `append` adds rows and deletes nothing — facts and dims alike:
  *    the load appends a vocabulary dim's new rows, and uniqueness
  *    comes from the upstream keying (J7 anti-join, [[Dims]]), not a
  *    constraint;
  *  - `replaceStudyPartitions` is delete-then-insert per study (S7,
  *    reference repositories.py:303-309) — a study whose NEW result is
  *    empty still loses its stale rows. `df` may read the rows it
  *    replaces, and a failure or crash part way never loses them: each
  *    backend writes `df` out before it deletes anything (a parquet
  *    stage rolled forward on the next read, a JDBC stage table moved
  *    in by one transaction, a snapshot segment);
  *  - `readStudies` returns the rows of the given studies of a
  *    `study_key`-partitioned table, the predicate applied as a
  *    partition filter (F7); a backend may also skip the other
  *    studies before the scan is planned;
  *  - `writeDim` replaces a table wholesale and is crash-recoverable
  *    (the swap never loses the previous version). Only whole-table
  *    rewrites use it: [[StudyState]] and the lake consumers' tables.
  *
  * One layout rule ([[Warehouse.layout]]) serves every file backend: a
  * table whose declared schema refers to a study by `study_key` (the
  * facts and `dim_sample`) is partitioned by it, so per-study reads
  * prune (F7) and per-study replace touches only its own directories.
  */
trait Warehouse {
  def read(table: String): DataFrame
  def readStudies(table: String, studyKeys: Seq[Long]): DataFrame =
    read(table).where(Warehouse.inSet("study_key", studyKeys))
  def writeDim(table: String, df: DataFrame): Unit
  def append(table: String, df: DataFrame): Unit
  def replaceStudyPartitions(table: String, df: DataFrame, studyKeys: Seq[Long]): Unit
}

/** Parquet warehouse — the scale backend.
  *
  * Tables follow [[Warehouse.layout]]: the facts and `dim_sample` are
  * partitioned by `study_key`, which gives:
  *  - partition pruning for per-study predicates (F7);
  *  - per-study replace (S7 — the reference's delete-then-insert,
  *    repositories.py:303-309, as a staged swap of the studies' files,
  *    so a study whose NEW result is empty still loses its stale rows);
  *  - per-study write atomicity through the task-commit protocol (the
  *    contract of X2/X3, mechanism replaced per SURVEY.md §7.5).
  *
  * A load only appends files and writes its own studies' partitions,
  * so a reader polling the warehouse never loses a file it listed to a
  * load of new studies. The cost: each load that adds vocabulary adds
  * one small file to that vocabulary dim. The snapshot backend folds
  * such files back (`autoCompactSegments`); here they accumulate,
  * one per vocabulary-adding batch.
  *
  * All filesystem operations go through the Hadoop FileSystem of the
  * warehouse URI — java.io.File would silently report every table
  * absent on hdfs:// or s3a:// and corrupt surrogate keys. Reads always
  * apply the declared schema: a partitioned append of ZERO rows leaves
  * a parquet-less directory that schema inference cannot read, and the
  * declared types also pin partition columns to LongType (inference
  * would narrow them to Integer).
  */
class ParquetWarehouse(spark: SparkSession, baseDir: String) extends Warehouse {
  import Warehouse._

  def path(table: String): String = s"$baseDir/$table"

  private def fs: FileSystem =
    new HPath(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(table: String): Boolean = fs.exists(new HPath(path(table)))

  def read(table: String): DataFrame = {
    recover(table)
    val dir = new HPath(path(table))
    val old = new HPath(path(table) + "__old")
    // crash recovery for writeDim's swap: the live dir vanished after
    // the old one was set aside -> the set-aside copy is the truth
    if (!fs.exists(dir) && fs.exists(old) && !fs.rename(old, dir))
      throw new java.io.IOException(s"Failed to recover dim $table from $old")
    if (exists(table)) inDeclaredOrder(table, spark.read.schema(schemas(table)).parquet(path(table)))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemas(table))
  }

  /** F7 at listing time: only the partition directories of
    * `studyKeys` are listed, so the scan, and the size estimate its
    * joins are planned by, cover those studies however many others
    * the table holds — a correlate of two studies plans alike on a
    * warehouse of 2 studies or 200. The predicate still applies, as a
    * partition filter. A study without a directory has no rows; when
    * none has one the result is an empty local relation, which the
    * optimizer folds away (a load of new studies merges their samples
    * without a join).
    */
  override def readStudies(table: String, studyKeys: Seq[Long]): DataFrame =
    if (!partitionedByStudy(table)) super.readStudies(table, studyKeys)
    else {
      recover(table)
      val dirs = studyKeys.distinct.map(k => new HPath(path(table), s"study_key=$k")).filter(fs.exists)
      if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schemas(table))
      else inDeclaredOrder(table, spark.read.schema(schemas(table))
        .option("basePath", path(table)).parquet(dirs.map(_.toString): _*))
        .where(inSet("study_key", studyKeys))
    }

  // the partition column would come back last: pin declared order
  private def inDeclaredOrder(table: String, df: DataFrame): DataFrame =
    df.select(schemas(table).fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)

  /** Whole-table rewrite of a small table via a tmp write and a
    * rename sequence (old -> __old, tmp -> live, drop __old) whose
    * crash windows are all recoverable: before the first rename the old
    * dim is live; between the renames read() restores __old; after, the
    * new dim is live. (Can't overwrite in place — the target is also
    * the read source of the plan.)
    */
  def writeDim(table: String, df: DataFrame): Unit = {
    val tmp = new HPath(path(table) + "__tmp")
    val old = new HPath(path(table) + "__old")
    val dir = new HPath(path(table))
    layout(table, df).mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"Failed to clear stale $old")
    if (fs.exists(dir) && !fs.rename(dir, old))
      throw new java.io.IOException(s"Failed to set aside current dim $table")
    if (!fs.rename(tmp, dir))
      throw new java.io.IOException(s"Failed to move $tmp into place for dim $table")
    fs.delete(old, true)
    ()
  }

  def append(table: String, df: DataFrame): Unit = {
    requireStudyLayout(table)
    layout(table, df).mode(SaveMode.Append).parquet(path(table))
  }

  /** Bucketed twin for co-located joins: two tables bucketed by the
    * same key into the same bucket count join WITHOUT any exchange —
    * each bucket pairs with its counterpart by file layout, so the
    * biggest shuffle of a fact⋈fact or fact⋈big-dim join disappears
    * (the 100 TB lever the builder prompt calls "bucketing for
    * co-located joins"; pinned by BucketingSpec's no-Exchange plan
    * assertion). Bucketed layout requires the session catalog
    * (`saveAsTable`); the data itself still lives under this
    * warehouse's directory via the explicit path option.
    */
  def writeBucketed(table: String, df: DataFrame, bucketCol: String,
      buckets: Int, partitionCols: Seq[String] = Nil): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path(table))
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(s"`$table`")
  }

  /** S7: replace the given studies' partitions with `df`'s rows —
    * the reference's delete-then-insert, staged so that no crash or
    * cancel loses a study's previous rows. Dynamic partition overwrite
    * alone cannot express "this study now has no rows": it only touches
    * partitions PRESENT in the frame, so a study whose recomputation is
    * empty would keep its stale rows.
    *
    * Three steps ([[stageReplace]], [[rollForward]]):
    *  1. `df` is written to a stage directory beside the table (`df`
    *     may read the rows it replaces: nothing is deleted yet);
    *  2. a marker naming the stage's files and the replaced studies'
    *     current files is written and renamed into the stage — the
    *     commit point. A stage without a marker is discarded;
    *  3. the named old files are deleted and the staged files renamed
    *     into their `study_key=K` directories.
    *
    * Step 3 only deletes files the marker names and only moves files
    * still in the stage, so it can be repeated: every `read` of the
    * table first rolls a committed stage forward, as `read` recovers
    * [[writeDim]]'s swap.
    */
  def replaceStudyPartitions(table: String, df: DataFrame, studyKeys: Seq[Long]): Unit =
    if (studyKeys.nonEmpty) {
      require(partitionedByStudy(table), s"$table is not partitioned by study_key")
      requireStudyLayout(table)
      recover(table, dropUncommitted = true)
      rollForward(stageReplace(table, df, studyKeys))
    }

  private def stageName(table: String) = s"${table}__replace-"
  private val Marker = "_replaces"

  /** Steps 1 and 2 of [[replaceStudyPartitions]]: returns the
    * committed stage.
    */
  private[etl] def stageReplace(table: String, df: DataFrame, studyKeys: Seq[Long]): HPath = {
    val stage = new HPath(baseDir, stageName(table) + java.util.UUID.randomUUID())
    layout(table, df).mode(SaveMode.Overwrite).parquet(stage.toString)
    def files(root: HPath, dirs: Seq[String]): Seq[String] = dirs.flatMap { d =>
      val dir = new HPath(root, d)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter(_.isFile).map(f => s"$d/${f.getPath.getName}")
    }
    val stagedDirs = fs.listStatus(stage).toSeq
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("study_key="))
      .map(_.getPath.getName)
    val lines = files(new HPath(path(table)), studyKeys.distinct.map(k => s"study_key=$k"))
      .map("old " + _) ++ files(stage, stagedDirs).map("new " + _)
    val pending = new HPath(stage, Marker + ".tmp")
    val out = fs.create(pending, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(pending, new HPath(stage, Marker)))
      throw new java.io.IOException(s"Failed to commit stage $stage of $table")
    stage
  }

  /** Step 3 of [[replaceStudyPartitions]] for one committed stage; a
    * no-op once the stage is gone. Safe to run twice at once.
    */
  private[etl] def rollForward(stage: HPath): Unit = {
    val lines =
      try {
        val in = fs.open(new HPath(stage, Marker))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
      } catch { case _: java.io.FileNotFoundException => return }
    val table = new HPath(baseDir, stage.getName.substring(0, stage.getName.indexOf("__replace-")))
    val (old, staged) = lines.partition(_.startsWith("old "))
    old.foreach(l => fs.delete(new HPath(table, l.drop(4)), false))
    // a file another roll-forward moved first is gone from the stage;
    // one still there after a failed rename keeps the stage
    staged.map(_.drop(4)).foreach { rel =>
      val src = new HPath(stage, rel)
      val dst = new HPath(table, rel)
      if (fs.exists(src) && !(fs.mkdirs(dst.getParent) && fs.rename(src, dst)) && fs.exists(src))
        throw new java.io.IOException(s"Failed to move $src into $table")
    }
    // a replaced study left without rows loses its directory (a
    // non-recursive delete fails on a directory that still holds files)
    val dir = (l: String) => l.drop(4).takeWhile(_ != '/')
    (old.map(dir).distinct diff staged.map(dir)).foreach { d =>
      try fs.delete(new HPath(table, d), false) catch { case _: java.io.IOException => () }
    }
    fs.delete(new HPath(stage, Marker), false)
    fs.delete(stage, true)
    ()
  }

  /** Rolls every committed stage of `table` forward; with
    * `dropUncommitted` (the writer, before it stages) also deletes the
    * stages a failed replace left without a marker.
    */
  private def recover(table: String, dropUncommitted: Boolean = false): Unit =
    if (partitionedByStudy(table))
      Option(fs.globStatus(new HPath(baseDir, stageName(table) + "*"))).toSeq.flatten
        .map(_.getPath).foreach { stage =>
          if (fs.exists(new HPath(stage, Marker))) rollForward(stage)
          else if (dropUncommitted) fs.delete(stage, true)
        }

  /** A `study_key`-partitioned table written before it was partitioned
    * holds its files at its root; a partitioned write beside them would
    * mix the two layouts, which Spark cannot read.
    */
  private def requireStudyLayout(table: String): Unit = {
    val dir = new HPath(path(table))
    if (partitionedByStudy(table) && fs.exists(dir) && fs.listStatus(dir).exists(f =>
        f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
      throw new IllegalStateException(s"$table at $dir holds files outside its study_key=K " +
        "directories: it was written before the table was partitioned by study_key. " +
        "Reload the warehouse into a new directory.")
  }
}

object Warehouse {

  /** The three-argument form with [[DatabaseConfig]]'s defaults (the
    * reference's, config.py:14-18).
    */
  def apply(spark: SparkSession, target: String): Warehouse =
    apply(spark, target, DatabaseConfig(target))

  /** Backend dispatch on the connection string, like the reference's
    * SQLAlchemy URL (database.py:28-36): a `jdbc:` URL gets the JDBC
    * backend, wired with `db`'s tuning knobs, a `snapshot:` prefix the
    * manifest-committed [[SnapshotWarehouse]], anything else a plain
    * parquet directory/URI.
    */
  def apply(spark: SparkSession, target: String, db: DatabaseConfig): Warehouse =
    if (target.startsWith("jdbc:"))
      new JdbcWarehouse(spark, target, db.batchSize, db.maxRetries,
        db.retryBackoffSeconds)
    else if (target.startsWith("snapshot:"))
      new SnapshotWarehouse(spark, target.stripPrefix("snapshot:"))
    else new ParquetWarehouse(spark, target)

  /** The layout rule of the file backends ([[ParquetWarehouse]],
    * [[SnapshotTxn]]): a table whose declared schema refers to a study
    * by `study_key` (the facts, `dim_sample`) is partitioned by it. Declared tables
    * other than the facts are small and written by one task: one file
    * per write, or per study for `dim_sample`. An undeclared table (a
    * documents corpus) keeps the frame's own partitioning.
    */
  def layout(table: String, df: DataFrame): DataFrameWriter[Row] =
    if (!schemas.contains(table)) df.write
    else {
      val w = (if (table.startsWith("fact")) df else df.coalesce(1)).write
      if (partitionedByStudy(table)) w.partitionBy("study_key") else w
    }

  /** `column IN values` as one InSet, whatever the number of values
    * (`isin` inlines up to 10 literals into the generated code). The
    * code references the set, so it is the same for every batch's keys
    * and a long-lived driver compiles it once; partition pruning reads
    * it like an IN list. String values must be `UTF8String`s.
    */
  def inSet(column: String, values: Iterable[Any]): org.apache.spark.sql.Column =
    graft.functions.exprToColumn(org.apache.spark.sql.catalyst.expressions.InSet(
      graft.functions.columnToExpr(org.apache.spark.sql.functions.col(column)), values.toSet))

  /** Whether [[layout]] partitions `table` by `study_key`: the table
    * refers to a study, and `study_key` is not its own key (the first
    * column of every declared dim, so `dim_study` is not partitioned).
    */
  def partitionedByStudy(table: String): Boolean =
    schemas.get(table).exists(s => s.fieldNames.tail.contains("study_key"))

  private def f(n: String, t: DataType, nullable: Boolean = false) =
    StructField(n, t, nullable)

  /** Authoritative schemas (reference models.py:15-131, SURVEY.md §1.4). */
  val schemas: Map[String, StructType] = Map(
    "dim_gene" -> StructType(Seq(f("gene_key", LongType), f("ensembl_id", StringType))),
    "dim_study" -> StructType(Seq(f("study_key", LongType), f("gse_accession", StringType))),
    "dim_illness" -> StructType(Seq(f("illness_key", LongType), f("illness_label", StringType))),
    "dim_platform" -> StructType(Seq(f("platform_key", LongType), f("platform_accession", StringType))),
    "dim_sample" -> StructType(Seq(
      f("sample_key", LongType), f("gsm_accession", StringType),
      f("study_key", LongType), f("platform_key", LongType, nullable = true),
      f("illness_key", LongType, nullable = true), f("age", StringType),
      f("sex", StringType))),
    "fact_expression" -> StructType(Seq(
      f("sample_key", LongType), f("gene_key", LongType),
      f("study_key", LongType), f("expression_value", DoubleType))),
    "fact_gene_pair_corr" -> StructType(Seq(
      f("gene_a_key", LongType), f("gene_b_key", LongType),
      f("illness_key", LongType, nullable = true), f("rho_spearman", DoubleType),
      f("p_value", DoubleType), f("q_value", DoubleType, nullable = true),
      f("n_samples", LongType), f("computed_at", StringType),
      f("study_key", LongType))),
    // D4 resume-state analog (reference models.py:124-131): per-study,
    // batch-granular — Spark has no row-at-a-time resume, so
    // last_processed_gene/last_sample_index collapse into the two
    // batch-level flags (SURVEY.md §7.5).
    "etl_study_state" -> StructType(Seq(
      f("study_accession", StringType), f("metadata_loaded", BooleanType),
      f("facts_loaded", BooleanType), f("updated_at", TimestampType))))
}
