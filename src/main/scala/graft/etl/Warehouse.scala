package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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
  *    schema (S8 create-on-first-write bootstrap);
  *  - `writeDim` replaces a dim wholesale and is crash-recoverable
  *    (the swap never loses the previous version);
  *  - `appendFacts` is append-only; uniqueness comes from the J7
  *    anti-join upstream, not a constraint;
  *  - `replaceStudyPartitions` is delete-then-insert per study (S7,
  *    reference repositories.py:303-309) — a study whose NEW result is
  *    empty still loses its stale rows.
  */
trait Warehouse {
  def read(table: String): DataFrame
  def writeDim(table: String, df: DataFrame): Unit
  def appendFacts(table: String, df: DataFrame): Unit
  def replaceStudyPartitions(table: String, df: DataFrame, studyKeys: Seq[Long]): Unit
}

/** Parquet warehouse — the scale backend.
  *
  * Facts are partitioned by `study_key`, which gives:
  *  - partition pruning for per-study predicates (F7);
  *  - per-study replace (S7 — the reference's delete-then-insert,
  *    repositories.py:303-309, as an explicit partition delete + append
  *    so a study whose NEW result is empty still loses its stale rows);
  *  - per-study write atomicity through the task-commit protocol (the
  *    contract of X2/X3, mechanism replaced per SURVEY.md §7.5).
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
    val dir = new HPath(path(table))
    val old = new HPath(path(table) + "__old")
    // crash recovery for writeDim's swap: the live dir vanished after
    // the old one was set aside -> the set-aside copy is the truth
    if (!fs.exists(dir) && fs.exists(old) && !fs.rename(old, dir))
      throw new java.io.IOException(s"Failed to recover dim $table from $old")
    if (exists(table))
      spark.read.schema(schemas(table)).parquet(path(table))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemas(table))
  }

  /** Dims are tiny: rewritten whole per batch via a tmp write and a
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
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"Failed to clear stale $old")
    if (fs.exists(dir) && !fs.rename(dir, old))
      throw new java.io.IOException(s"Failed to set aside current dim $table")
    if (!fs.rename(tmp, dir))
      throw new java.io.IOException(s"Failed to move $tmp into place for dim $table")
    fs.delete(old, true)
    ()
  }

  def appendFacts(table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).partitionBy("study_key").parquet(path(table))

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
    * explicit delete-then-append, the reference's semantics. Dynamic
    * partition overwrite alone cannot express "this study now has no
    * rows": it only touches partitions PRESENT in the frame, so a
    * study whose recomputation is empty would keep its stale rows.
    */
  def replaceStudyPartitions(table: String, df: DataFrame, studyKeys: Seq[Long]): Unit = {
    studyKeys.foreach { k =>
      fs.delete(new HPath(s"${path(table)}/study_key=$k"), true)
    }
    if (studyKeys.nonEmpty)
      df.write.mode(SaveMode.Append).partitionBy("study_key").parquet(path(table))
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
