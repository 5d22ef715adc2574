package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import perfbench.Bench.OpResult
import perfbench.Fs._
import scala.jdk.CollectionConverters._

/** One workload: inputs made from the seed, an optional pre-load done
  * in set-up, and a user operation repeated while the run measures.
  */
abstract class Workload(val ctx: Ctx) {
  val o: Bench.Opts = ctx.opts
  def spark: SparkSession = ctx.spark
  val inputs: Path = o.work.resolve("inputs")
  val geneFilter: Path = inputs.resolve("filter_genes.tsv")

  def generate(): Unit
  /** Pre-load through the program's API (timed as set-up). */
  def preload(): Unit = ()
  /** Uncounted warm-up iterations, then counted iterations every run
    * makes at least: with both counts fixed, every run takes its median
    * over the same stretch of the JVM's warm-up.
    */
  def warmups: Int
  def minIters: Int
  /** Untimed reset before iteration `i`. */
  def prepare(i: Int): Unit = ()
  def op(i: Int): OpResult
  /** Deep checks of the last iteration's outputs. */
  def verify(): Unit
  def warehouseRoots: Seq[String] = Seq(o.work.resolve("wh").toString)
  /** Data files the last operation created under the warehouse. */
  var lastFilesWritten = 0L

  // ---- helpers ------------------------------------------------------------

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  protected def etlConfig(name: String, inputDir: Path): Path = {
    val p = o.work.resolve(s"$name.yaml")
    Files.write(p, (
      s"""database:
         |  connection_string: unused
         |processing:
         |  input_directory: $inputDir
         |  gene_filter_file: $geneFilter
         |logging:
         |  log_level: WARN
         |""".stripMargin).getBytes(UTF_8))
    p
  }

  private val StudyLine = """study=(\S+) samples=(\d+) facts=(\d+) (.*)""".r

  /** Per-study `(facts, status)` from the etl / etl-stream output. */
  protected def studyLines(out: String): Map[String, (Long, String)] =
    out.linesIterator.collect { case StudyLine(acc, _, facts, status) =>
      acc -> (facts.toLong, status.trim)
    }.toMap

  protected def checkLoaded(out: String, studies: Seq[Study]): Long = {
    val got = studyLines(out)
    studies.foreach { s =>
      ctx.check(got.get(s.acc).contains((s.facts, "ok")),
        s"${s.acc}: expected facts=${s.facts} ok, got ${got.get(s.acc)}")
    }
    studies.iterator.map(s => got.get(s.acc).map(_._1).getOrElse(0L)).sum
  }

  protected def pairsOf(out: String): Long =
    """pairs=(\d+)""".r.findFirstMatchIn(out).map(_.group(1).toLong).getOrElse(-1L)
}

/** File helpers over the run's work directory. */
object Fs {
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def dataFilesSince(p: Path, t0Ms: Long): Long =
    files(p).count(f => f.toString.endsWith(".parquet") &&
      Files.getLastModifiedTime(f).toMillis >= t0Ms).toLong

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  def copy(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator.asScala.toList.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
}

/** Output checks against the generated expectations. Each mismatch is
  * one failed check.
  */
object Checks {

  /** Fact and dim_sample counts per study. */
  def warehouse(ctx: Ctx, wh: Path, studies: Seq[Study]): Unit = {
    val spark = ctx.spark
    val dimStudy = spark.read.parquet(s"$wh/dim_study")
    def perStudy(table: String): Map[String, Long] =
      spark.read.parquet(s"$wh/$table").groupBy("study_key").count()
        .join(dimStudy, "study_key").collect()
        .map(r => r.getAs[String]("gse_accession") -> r.getAs[Long]("count")).toMap
    val facts = perStudy("fact_expression")
    val samples = perStudy("dim_sample")
    studies.foreach { s =>
      ctx.check(facts.get(s.acc).contains(s.facts),
        s"${s.acc}: fact_expression has ${facts.get(s.acc)} rows, expected ${s.facts}")
      ctx.check(samples.get(s.acc).contains(s.dimSamples.toLong),
        s"${s.acc}: dim_sample has ${samples.get(s.acc)} rows, expected ${s.dimSamples}")
    }
  }

  /** Pair counts per study, and rho / p / q / n of a seeded sample of
    * pairs, against [[Ref]].
    */
  def pairs(ctx: Ctx, wh: Path, studies: Seq[Study], refs: Map[String, Map[(String, String), Ref.Pair]],
      seed: Long, perStudy: Int = 200): Unit = {
    val spark = ctx.spark
    val gene = spark.read.parquet(s"$wh/dim_gene")
    val rows = spark.read.parquet(s"$wh/fact_gene_pair_corr")
      .join(spark.read.parquet(s"$wh/dim_study"), "study_key")
      .join(gene.select(col("gene_key").as("gene_a_key"), col("ensembl_id").as("ga")), "gene_a_key")
      .join(gene.select(col("gene_key").as("gene_b_key"), col("ensembl_id").as("gb")), "gene_b_key")
      .where(col("gse_accession").isin(studies.map(_.acc): _*))
      .select("gse_accession", "ga", "gb", "n_samples", "rho_spearman", "p_value", "q_value")
      .collect()
    val got = rows.groupBy(_.getString(0)).map { case (acc, rs) =>
      acc -> rs.map { r =>
        val (a, b) = (r.getString(1), r.getString(2))
        (if (a < b) (a, b) else (b, a)) ->
          (r.getLong(3), r.getDouble(4), r.getDouble(5), Option(r.get(6)).map(_.asInstanceOf[Double]))
      }.toMap
    }
    val r = Gen.rng(seed, "pair-sample")
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 + 1e-9 * math.abs(y)
    studies.foreach { s =>
      val ref = refs(s.acc)
      val mine = got.getOrElse(s.acc, Map.empty)
      ctx.check(mine.size == ref.size, s"${s.acc}: ${mine.size} pairs, expected ${ref.size}")
      val keys = ref.keys.toArray.sorted
      for (i <- keys.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = keys(i); keys(i) = keys(j); keys(j) = t
      }
      keys.take(perStudy).foreach { k =>
        val e = ref(k)
        val ok = mine.get(k).exists { case (n, rho, p, q) =>
          n == e.n && close(rho, e.rho) && close(p, e.p.getOrElse(1.0)) &&
            ((q, e.q) match {
              case (None, None) => true
              case (Some(a), Some(b)) => close(a, b)
              case _ => false
            })
        }
        ctx.check(ok, s"${s.acc} pair $k: got ${mine.get(k)}, expected $e")
      }
    }
  }

  /** Curate invariants over the curated texts (before the token
    * budget) and the budgeted output.
    */
  def curated(ctx: Ctx, kept: Map[Long, String], emails: Seq[String],
      budgeted: Seq[(Long, Long)], budget: Long): Unit = {
    ctx.check(emails.nonEmpty && !kept.values.exists(t => emails.exists(t.contains)),
      "a planted email survived pii_redact")
    val digests = kept.values.map(t => t.replaceAll("[^a-zA-Z0-9]+", " ").toLowerCase.trim).toSet
    ctx.check(digests.size == kept.size,
      s"${kept.size - digests.size} curated docs share a normalized-text digest")
    ctx.check(budgeted.nonEmpty && budgeted.forall { case (id, cum) => kept.contains(id) && cum <= budget },
      "token_budget output is not a within-budget subset of the curated docs")
  }
}

/** Sizes of the generated inputs, one place to tune them. */
object Sizes {
  val Small = Shape(samples = 32, whiteGenes = 128, otherGenes = 160)
  /** ingest_incremental: pre-loaded studies, and the two that arrive */
  val BaseStudies = 3
  val Dense = Shape(samples = 60, whiteGenes = 100, otherGenes = 40, naInWhite = false)
  val Sparse = Shape(samples = 60, whiteGenes = 60, otherGenes = 40, blankFrac = 0.05)
  val Docs = 2000
}

/** A pre-loaded warehouse, then one `etl-stream` drain of a manifest
  * listing two new studies plus one already loaded, then
  * `correlate --study` for the new ones. One new study is complete
  * (dense correlate path), the other has blank cells (exact
  * shared-sample path). Every iteration starts from the same
  * pre-loaded warehouse.
  */
final class IngestIncremental(c: Ctx) extends Workload(c) {
  private var base = Seq.empty[Study]
  private var fresh = Seq.empty[Study]
  private var refs = Map.empty[String, Map[(String, String), Ref.Pair]]
  private val pristine = o.work.resolve("wh-base")
  private val wh = o.work.resolve("wh")
  private val baseCfg = etlConfig("base", inputs.resolve("base"))
  private val newCfg = etlConfig("new", inputs.resolve("new"))
  def warmups = 1
  def minIters = 3

  def generate(): Unit = {
    Gen.writeGeneFilter(geneFilter)
    base = (0 until Sizes.BaseStudies).map(k => Gen.study(inputs.resolve("base"), o.seed, k, Sizes.Small))
    val k = Sizes.BaseStudies
    fresh = Seq(Gen.study(inputs.resolve("new"), o.seed, k, Sizes.Dense),
      Gen.study(inputs.resolve("new"), o.seed, k + 1, Sizes.Sparse))
    refs = fresh.map(s => s.acc -> Ref.pairs(s)).toMap
  }

  override def preload(): Unit = {
    val (_, out) = ctx.cli("etl", "etl", "--config", baseCfg.toString, "--warehouse",
      pristine.toString, "--mode", "unioned")
    checkLoaded(out, base)
  }

  private def manifest(i: Int) = o.work.resolve(s"manifest-$i")
  private def checkpoint(i: Int) = o.work.resolve(s"checkpoint-$i")
  override def prepare(i: Int): Unit = {
    delete(wh)
    if (i > 0) { delete(manifest(i - 1)); delete(checkpoint(i - 1)) }
    copy(pristine, wh)
    Files.createDirectories(manifest(i))
  }

  def op(i: Int): OpResult = {
    val redelivered = base.head
    val before = bytes(wh)
    val t0 = System.nanoTime(); val t0Ms = System.currentTimeMillis()
    Files.write(manifest(i).resolve("arrivals.txt"),
      (fresh :+ redelivered).map(_.dir.toString + "\n").mkString.getBytes(UTF_8))
    val d0 = System.nanoTime()
    val (_, out) = ctx.cli("streaming", "etl-stream", "--config", newCfg.toString,
      "--manifest", manifest(i).toString, "--warehouse", wh.toString,
      "--checkpoint", checkpoint(i).toString)
    val drainS = secs(d0)
    val afterDrain = bytes(wh)
    val (_, cout) = ctx.cli("stats", "correlate" +: "--warehouse" +: wh.toString +:
      fresh.flatMap(s => Seq("--study", s.acc)): _*)
    val resultS = secs(t0)
    lastFilesWritten = dataFilesSince(wh, t0Ms)
    val facts = checkLoaded(out, fresh)
    ctx.check(studyLines(out).get(redelivered.acc).contains((0L, "skipped (resume)")),
      s"re-delivered ${redelivered.acc}: expected skipped with 0 facts, got " +
        studyLines(out).get(redelivered.acc))
    val expected = fresh.map(s => refs(s.acc).size.toLong).sum
    ctx.check(pairsOf(cout) == expected, s"correlate wrote ${pairsOf(cout)} pairs, expected $expected")
    OpResult(resultS, facts, drainS, afterDrain - before, facts)
  }

  def verify(): Unit = {
    // the re-delivered study still holds exactly its own facts: 0 added
    Checks.warehouse(ctx, wh, base ++ fresh)
    Checks.pairs(ctx, wh, fresh, refs, o.seed)
  }
}

/** `curate` over a generated corpus with planted duplicates,
  * near-duplicates, foreign-language documents and PII.
  *
  * `boilerplate_drop` is left out of the pipeline: on the `documents`
  * schema it drops every column but id, source and text, and the
  * stage's final `select` of the input columns then fails (unresolved
  * column `lang`).
  */
final class CurateCorpus(c: Ctx) extends Workload(c) {
  private var docs = IndexedSeq.empty[Doc]
  private val corpus = inputs.resolve("documents.parquet")
  private def out(i: Int) = o.work.resolve(s"curated-$i")
  private val Budget = Sizes.Docs.toLong
  private val stages =
    """    - kind: quality_gate
      |      min_quality: 0.7
      |    - kind: lang_filter
      |      keep: [en]
      |    - kind: pii_redact
      |    - kind: exact_dedup
      |    - kind: normalized_dedup
      |    - kind: near_dup_drop
      |      max_hamming: 3
      |    - kind: paragraph_dedup
      |""".stripMargin
  private val full = writeCfg("pipeline", stages +
    s"    - kind: token_budget\n      budget_tokens: $Budget\n      strata: [source]\n")
  private val textOnly = writeCfg("pipeline-text", stages)
  private var outCount = -1L
  private var last = 0
  override def warehouseRoots: Seq[String] = Seq(inputs.toString)
  def warmups = 2
  def minIters = 3

  private def writeCfg(name: String, body: String): Path = {
    val p = o.work.resolve(s"$name.yaml")
    Files.write(p, ("pipeline:\n  stages:\n" + body).getBytes(UTF_8))
    p
  }

  def generate(): Unit = {
    docs = Gen.corpus(o.seed, Sizes.Docs)
    Gen.writeCorpus(corpus, docs)
  }

  override def prepare(i: Int): Unit = if (i > 1) delete(out(i - 1))

  private val CurateLine = """curate in=(\d+) out=(\d+)""".r.unanchored

  /** Iteration 0, a warm-up, runs the pipeline without `token_budget`;
    * its output keeps the text, which [[verify]] checks. Every later
    * iteration runs the full pipeline.
    */
  def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val (_, text) = ctx.cli("ops", "curate", "--config", (if (i == 0) textOnly else full).toString,
      "--input", corpus.toString, "--output", out(i).toString)
    val s = secs(t0)
    val (nIn, nOut) = text match {
      case CurateLine(a, b) => (a.toLong, b.toLong)
      case _ => (-1L, -1L)
    }
    ctx.check(nIn == docs.size, s"curate read $nIn docs, expected ${docs.size}")
    if (i > 0) {
      if (outCount < 0) outCount = nOut
      ctx.check(nOut == outCount && nOut > 0, s"curate kept $nOut docs, earlier iteration kept $outCount")
    }
    last = i
    lastFilesWritten = files(out(i)).count(_.toString.endsWith(".parquet")).toLong
    OpResult(s, nIn, s, bytes(out(i)), math.max(nOut, 1L))
  }

  def verify(): Unit = {
    val kept = spark.read.parquet(out(0).toString).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val budgeted = spark.read.parquet(out(last).toString)
      .select("doc_id", "cum_tokens").collect().map(r => (r.getLong(0), r.getLong(1)))
    Checks.curated(ctx, kept, docs.flatMap(_.email), budgeted.toSeq, Budget)
    ctx.check(docs.exists(_.kind == "exact") && docs.exists(_.kind == "foreign"),
      "corpus is missing planted duplicates or foreign documents")
    // the output count is a function of the input: compare with any
    // earlier run over the same corpus bytes in this checkout
    val ledger = o.work.getParent.resolve("curate-counts.tsv")
    val digest = java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(corpus))
    val key = digest.map(b => f"$b%02x").mkString + "\t"
    val prior = if (Files.exists(ledger))
      Files.readAllLines(ledger).asScala.find(_.startsWith(key)).map(_.drop(key.length).toLong)
    else None
    prior match {
      case Some(n) => ctx.check(n == outCount, s"seed ${o.seed}: curate kept $outCount docs, an earlier run kept $n")
      case None if outCount > 0 =>
        Files.write(ledger, s"$key$outCount\n".getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      case None =>
    }
  }
}
