package graft.etl

import graft.GraftSession

/** CLI entry points (reference: scripts/run_etl.py:32-41 and
  * scripts/run_correlation_job.py:29-48).
  *
  *   graft.etl.Main etl --config etl.yaml --warehouse <dir>
  *   graft.etl.Main etl-stream --config etl.yaml --manifest <dir>
  *   graft.etl.Main correlate --warehouse <dir> [--study GSE1 --study GSE2 ...]
  *   graft.etl.Main curate --config pipeline.yaml --input docs.parquet --output out/
  *   graft.etl.Main lake-delete --warehouse snapshot:<dir> --table <t> --where <pred>
  *   graft.etl.Main lake-compact --warehouse snapshot:<dir> --table <t>
  *   graft.etl.Main lake-vacuum --warehouse snapshot:<dir> [--keep <n>] [--grace-ms <ms>]
  *   graft.etl.Main lake-tail-dedup --warehouse snapshot:<dir> [--table <t>] [--follow]
  */
object Main {

  /** Malformed command line — caught at the [[run]] boundary and turned
    * into usage + exit code 2, NEVER sys.exit: run()'s contract is that
    * specs can drive the full command surface (bad input included) on
    * the shared test JVM/session.
    */
  private final class UsageError(msg: String) extends RuntimeException(msg)

  private def usageError(msg: String): Nothing = throw new UsageError(msg)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val spark = GraftSession.getOrCreate(s"graft-${args.head}")
    val code = try run(args, spark) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** The CLI body with the caller owning the session and the exit code
    * returned, not thrown — lets specs drive the real command surface
    * (flag parsing included) on the shared test session.
    */
  def run(args: Array[String], spark: org.apache.spark.sql.SparkSession): Int = {
    if (args.isEmpty) { usage(); return 2 }
    try runChecked(args, spark)
    catch {
      case e: UsageError =>
        if (e.getMessage.nonEmpty) System.err.println(e.getMessage)
        usage(); 2
    }
  }

  private def runChecked(args: Array[String], spark: org.apache.spark.sql.SparkSession): Int = {
    val cmd = args.head
    val opts = parse(args.tail.toList, Map.empty)
    def required(key: String): String =
      opts.get(key).flatMap(_.headOption).getOrElse(usageError(s"--$key is required"))
    // warehouse target: explicit flag, else the config's connection
    // string when it names a JDBC database (the reference's deployment
    // shape — database.connection_string IS the target), else the
    // local parquet default
    def warehouseFor(cfg: AppConfig): String =
      opts.get("warehouse").flatMap(_.headOption).getOrElse(
        if (cfg.database.connectionString.startsWith("jdbc:"))
          cfg.database.connectionString
        else "./warehouse")
    cmd match {
      case "etl" =>
        val cfg = EtlConfig.load(required("config"))
        val wh = warehouseFor(cfg)
        // The reference resumes unconditionally — every run loads state
        // and skips completed studies (reference pipeline.py:101-105,
        // 255-270) — so resume is the DEFAULT; --no-resume forces a full
        // re-scan (still idempotent via the J7 anti-join, just slower).
        val resume = !flag(opts, "no-resume")
        val results = new EtlJob(spark, cfg, wh).run(resume)
        printResults(results)
        if (results.exists(_.error.isDefined)) 1 else 0
      case "etl-stream" =>
        // incremental ingest: drain all unprocessed arrival manifests
        // (see graft.streaming.StreamingEtl); run on a schedule for
        // continuous ingest — the checkpoint makes each drain pick up
        // exactly the manifests that arrived since the last one
        val cfg = EtlConfig.load(required("config"))
        val wh = warehouseFor(cfg)
        val manifest = required("manifest")
        // the checkpoint must be a FILESYSTEM path — when the warehouse
        // is a JDBC URL there is no directory to nest it under
        val checkpoint = opts.get("checkpoint").flatMap(_.headOption).getOrElse {
          if (wh.startsWith("jdbc:"))
            usageError("--checkpoint is required when the warehouse is a JDBC URL " +
              "(the streaming checkpoint needs a filesystem directory)")
          s"$wh/_etl_stream_checkpoint"
        }
        val resume = !flag(opts, "no-resume")
        val etl = new graft.streaming.StreamingEtl(spark, cfg, wh)
        if (flag(opts, "follow")) {
          // long-lived mode: keep ticking until the query is stopped
          // (operator signal / spark.streams stop). failOpen semantics
          // are ingestProcessingTime's default: a failing study is
          // reported per batch and retried when re-listed; the query
          // never fail-stops unattended.
          val interval = opts.get("interval").flatMap(_.headOption)
            .getOrElse("10 seconds")
          @volatile var sawError = false
          val query = etl.ingestProcessingTime(manifest, checkpoint,
            interval, resume) { rs =>
            printResults(rs)
            if (rs.exists(_.error.isDefined)) sawError = true
          }
          try { query.awaitTermination(); if (sawError) 1 else 0 }
          catch {
            case e: org.apache.spark.sql.streaming.StreamingQueryException =>
              System.err.println(s"stream terminated: ${e.getMessage}")
              1
          }
        } else {
          val results = etl.ingestAvailable(manifest, checkpoint, resume)
          printResults(results)
          if (results.exists(_.error.isDefined)) 1 else 0
        }
      case "correlate" =>
        val wh = opts.get("warehouse").flatMap(_.headOption).getOrElse("./warehouse")
        val studies = opts.getOrElse("study", Seq.empty)
        val exactP = flag(opts, "exact-p")
        val summary = new CorrelationJob(spark, wh, exactPValues = exactP).run(studies)
        println(s"studies=${summary.studies.mkString(",")} pairs=${summary.pairs}")
        0
      case "curate" =>
        // declarative corpus curation from a YAML pipeline (the S9
        // config discipline over the p41 runner): read a document
        // corpus, run the configured stages, write the survivors —
        // the same operator surface as the query registry, driven
        // from the CLI like etl/correlate
        val cfgPath = required("config")
        val input = required("input")
        val output = required("output")
        val cfg = try graft.ops.CurationPipeline.load(cfgPath) catch {
          case e: graft.ops.CurationPipeline.PipelineConfigError =>
            usageError(s"bad pipeline config: ${e.getMessage}")
        }
        // the overwrite below would destroy the source corpus if the
        // output path equals (or nests with) the input path — and
        // Spark's own same-path write detection is defeated once a
        // pipeline stage localCheckpoints (the plan source becomes a
        // LogicalRDD, no longer a scan of `input`). Resolve both to
        // qualified URIs and refuse overlap in either direction.
        val hconf = spark.sparkContext.hadoopConfiguration
        def qualified(p: String): String = {
          val hp = new org.apache.hadoop.fs.Path(p)
          // URI.normalize resolves ./.. segments Hadoop Path keeps
          // (a/b/../b must compare equal to a/b)
          hp.getFileSystem(hconf).makeQualified(hp)
            .toUri.normalize().toString.stripSuffix("/") + "/"
        }
        val (inQ, outQ) = (qualified(input), qualified(output))
        if (inQ == outQ || inQ.startsWith(outQ) || outQ.startsWith(inQ))
          usageError(s"--output $output overlaps --input $input: " +
            "overwriting it would destroy the source corpus")
        val docs = spark.read.parquet(input)
        // count the input BEFORE the write, while the source is
        // guaranteed intact (defense in depth with the path guard)
        val nIn = docs.count()
        val out = graft.ops.CurationPipeline.run(docs, cfg)
        out.write.mode("overwrite").parquet(output)
        val nOut = spark.read.parquet(output).count()
        println(s"curate in=$nIn out=$nOut stages=${cfg.stages.size} -> $output")
        0
      case "lake-delete" =>
        // predicate-scoped delete (takedown/GDPR) on the snapshot
        // backend — the CLI face of SnapshotWarehouse.deleteWhere. The
        // predicate is ANSI SQL over the table's columns; rows where it
        // is TRUE are deleted (NULL keeps, the SQL DELETE contract).
        val wh = snapshotWarehouse(spark, required("warehouse"))
        val table = required("table")
        val where = required("where")
        val pred = try org.apache.spark.sql.functions.expr(where) catch {
          case e: org.apache.spark.sql.AnalysisException =>
            usageError(s"bad --where predicate: ${e.getMessage}")
        }
        // unresolvable columns only surface when the predicate meets
        // the table's schema inside deleteWhere — still a usage error
        val deleted = try wh.deleteWhere(table, pred) catch {
          case e: org.apache.spark.sql.AnalysisException =>
            usageError(s"bad --where predicate for table $table: ${e.getMessage}")
        }
        println(s"lake-delete table=$table deleted=$deleted " +
          s"snapshot=v${wh.currentVersion()}")
        0
      case "lake-compact" =>
        val wh = snapshotWarehouse(spark, required("warehouse"))
        val table = required("table")
        wh.compact(table)
        println(s"lake-compact table=$table snapshot=v${wh.currentVersion()}")
        0
      case "lake-vacuum" =>
        val wh = snapshotWarehouse(spark, required("warehouse"))
        val keep = opts.get("keep").flatMap(_.headOption).map(_.toInt).getOrElse(1)
        val grace = opts.get("grace-ms").flatMap(_.headOption).map(_.toLong)
          .getOrElse(24L * 60 * 60 * 1000)
        wh.vacuum(keep, grace)
        println(s"lake-vacuum keep=$keep snapshot=v${wh.currentVersion()}")
        0
      case "lake-tail-dedup" =>
        // the checkpointed incremental near-dup consumer (LakeTail +
        // LakeConsumers.dedupStep): drain every unconsumed commit of
        // the documents table, one atomic lake commit per batch
        // (exactly-once — offset and outputs publish together). With
        // --follow it keeps polling at --interval-ms; default is a
        // single drain (the cron shape).
        val wh = snapshotWarehouse(spark, required("warehouse"))
        val table = opts.get("table").flatMap(_.headOption).getOrElse("documents")
        val follow = flag(opts, "follow")
        val intervalMs = opts.get("interval-ms").flatMap(_.headOption)
          .map(_.toLong).getOrElse(10000L)
        var batches = 0L
        def drainAll(): Unit = {
          var more = true
          while (more) LakeConsumers.dedupStep(wh, table) match {
            case Some(b) =>
              batches += 1
              println(s"lake-tail-dedup batch v${b.fromVersion}..v${b.toVersion}" +
                (if (b.fullReread) " (full rebuild)" else ""))
            case None => more = false
          }
        }
        drainAll()
        while (follow && !Thread.currentThread().isInterrupted) {
          Thread.sleep(intervalMs); drainAll()
        }
        val nPairs =
          if (wh.currentManifest().tables.contains(LakeConsumers.PairTable))
            wh.read(LakeConsumers.PairTable).count()
          else 0L
        println(s"lake-tail-dedup batches=$batches pairs=$nPairs " +
          s"snapshot=v${wh.currentVersion()}")
        0
      case other => usageError(s"Unknown command: $other")
    }
  }

  /** The lake maintenance commands only make sense on the manifest
    * backend: plain parquet has no snapshots to delete from or vacuum,
    * and JDBC deletes are plain SQL — fail with usage, not a cast.
    */
  private def snapshotWarehouse(spark: org.apache.spark.sql.SparkSession,
      target: String): SnapshotWarehouse =
    Warehouse(spark, target) match {
      case s: SnapshotWarehouse => s
      case _ => usageError(
        s"--warehouse must be a snapshot: target for lake commands, got: $target")
    }

  private def printResults(results: Seq[EtlJob#StudyResult]): Unit =
    results.foreach { r =>
      val status =
        if (r.skipped) "skipped (resume)"
        else r.error.map(e => s"FAILED: $e").getOrElse("ok")
      println(s"study=${r.accession} samples=${r.samples} facts=${r.facts} $status")
    }

  /** Boolean options accept a bare flag (`--exact-p`), an explicit
    * `true`/`false` value, or repeated mention; any other value is a
    * usage error (exit 2), never a raw exception.
    */
  private val flagKeys = Set("exact-p", "no-resume", "follow")

  private def flag(opts: Map[String, Seq[String]], key: String): Boolean =
    opts.get(key) match {
      case None => false
      case Some(vs) => vs.lastOption.forall(v => v.toBooleanOption.getOrElse(
        usageError(s"--$key expects true|false, got: $v")))
    }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, Seq[String]]): Map[String, Seq[String]] =
    args match {
      // a flag key followed by another option (or nothing) is bare true
      // — recorded as an explicit "true" so that with repeated
      // mentions the LAST one wins (e.g. `--no-resume false
      // --no-resume` resumes off)
      case key :: rest if key.startsWith("--") && flagKeys(key.drop(2)) &&
          rest.headOption.forall(_.startsWith("--")) =>
        val k = key.drop(2)
        parse(rest, acc.updated(k, acc.getOrElse(k, Seq.empty) :+ "true"))
      case key :: value :: rest if key.startsWith("--") =>
        val k = key.drop(2)
        parse(rest, acc.updated(k, acc.getOrElse(k, Seq.empty) :+ value))
      case Nil => acc
      case other :: _ => usageError(s"Unexpected argument: $other")
    }

  private def usage(): Unit = System.err.println(
    """usage: graft.etl.Main etl --config <yaml> [--warehouse <dir|jdbc:url>] [--no-resume]
      |       graft.etl.Main etl-stream --config <yaml> --manifest <dir> [--warehouse <dir|jdbc:url>] [--checkpoint <dir>] [--no-resume] [--follow [--interval "10 seconds"]]
      |       graft.etl.Main correlate [--warehouse <dir|jdbc:url>] [--study <GSE>]... [--exact-p]
      |       graft.etl.Main curate --config <pipeline.yaml> --input <parquet> --output <dir>
      |       graft.etl.Main lake-delete --warehouse snapshot:<dir> --table <t> --where <sql-predicate>
      |       graft.etl.Main lake-compact --warehouse snapshot:<dir> --table <t>
      |       graft.etl.Main lake-vacuum --warehouse snapshot:<dir> [--keep <n>] [--grace-ms <ms>]
      |       graft.etl.Main lake-tail-dedup --warehouse snapshot:<dir> [--table <t>] [--follow [--interval-ms <ms>]]""".stripMargin)
}
