package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Declarative curation pipelines — the reference's YAML-config
  * discipline (S9, `config.py`) extended to the training-data surface:
  * a corpus-curation run is DATA (an ordered stage list with
  * parameters), not code, so the same reviewed pipeline definition
  * ships across corpora and the run is reproducible from its config.
  *
  * Every stage delegates to an already-verified operator ([[TextStats]],
  * [[Dedup]], [[Sampling]]) — the config layer adds NO new semantics,
  * and a config encoding the p30 funnel's parameters is oracle-checked
  * to produce byte-identical output to the hand-composed
  * [[Curation.curate]] (the x5/x18 two-executions-one-oracle
  * discipline, applied to a whole pipeline).
  *
  * Config errors fail loudly at LOAD time with the stage index and
  * field named — a 100 TB run must die before its first scan, not
  * after three stages.
  */
object CurationPipeline {

  sealed trait Stage
  case class QualityGate(minQuality: Double) extends Stage
  case object NormalizedDedup extends Stage
  case object ExactDedup extends Stage
  case class NearDupDrop(maxHamming: Int) extends Stage
  case class QualityLinear(minLogit: Double, nFeatures: Int) extends Stage
  case class LangFilter(keep: Seq[String]) extends Stage
  case object PiiRedact extends Stage
  case class BoilerplateDrop(minDocs: Int, source: String) extends Stage
  case class HashSample(pct: Int) extends Stage
  case class SplitAssign(splits: Seq[(String, Int)]) extends Stage
  case class TokenBudget(budgetTokens: Long, strata: Seq[String]) extends Stage
  // rounds 9-11 operators, reachable from config (round 12): each
  // delegates to its already-oracle-checked operator — the p84/p55/
  // p58/p48/p54/p57 query registry entries are the semantics
  case object ParagraphDedup extends Stage
  case class DomainCap(k: Int, group: String) extends Stage
  case class DsirSelect(targetSources: Seq[String], buckets: Int,
      source: String) extends Stage
  case class MixtureCalibrate(targets: Seq[(String, Int)],
      source: String) extends Stage
  case class PerplexityFilter(keepBuckets: Seq[String], maxPieceLen: Int,
      vocabSize: Int) extends Stage
  case class LrGate(weightsPath: String, nWeights: Int) extends Stage

  case class Config(stages: Seq[Stage], id: String, text: String)

  class PipelineConfigError(msg: String)
    extends RuntimeException(msg)

  def load(yamlPath: String): Config = {
    val p = java.nio.file.Paths.get(yamlPath)
    if (!java.nio.file.Files.exists(p))
      throw new PipelineConfigError(s"pipeline config not found: $yamlPath")
    loadString(java.nio.file.Files.readString(p))
  }

  def loadString(yamlText: String): Config = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    // snakeyaml's type parameter is an unchecked cast — a top-level
    // list or scalar (a stage list pasted without its 'pipeline:'
    // wrapper) would surface as a ClassCastException from deep inside
    // the parse; pattern-match so it gets the promised config error
    // with the shape named (the parseStage discipline, one level up)
    val root = yaml.load[AnyRef](yamlText) match {
      case null => throw new PipelineConfigError("pipeline config is empty")
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[AnyRef] }
      case other => throw new PipelineConfigError(
        "top level must be a mapping with a 'pipeline' section, got " +
          other.getClass.getSimpleName)
    }
    val pipe = root.get("pipeline") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[AnyRef] }.toMap
      case _ => throw new PipelineConfigError("missing top-level 'pipeline' section")
    }
    val id = pipe.get("id_column").map(_.toString).getOrElse("doc_id")
    val text = pipe.get("text_column").map(_.toString).getOrElse("text")
    val rawStages = pipe.get("stages") match {
      case Some(l: java.util.List[_]) if !l.isEmpty => l.asScala.toSeq
      case _ => throw new PipelineConfigError("'pipeline.stages' must be a non-empty list")
    }
    val stages = rawStages.zipWithIndex.map {
      case (m: java.util.Map[_, _], i) =>
        parseStage(m.asScala.map { case (k, v) => k.toString -> (v: Any) }.toMap, i)
      case (_, i) =>
        throw new PipelineConfigError(s"stage $i is not a mapping")
    }
    stages.dropRight(1).zipWithIndex.foreach {
      case (_: TokenBudget, i) => throw new PipelineConfigError(
        s"stage $i: token_budget reshapes the output and must be the final stage")
      case (_: SplitAssign, i) => throw new PipelineConfigError(
        s"stage $i: split_assign appends a column and must be the final stage")
      case _ => ()
    }
    Config(stages, id, text)
  }

  private def parseStage(m: Map[String, Any], i: Int): Stage = {
    def kindName: String =
      m.get("kind").flatMap(Option(_)).map(_.toString).getOrElse("?")
    // a key present with a null YAML value (`min_quality:`) is MISSING,
    // not a null to trip over later — the promised stage-indexed error,
    // never a bare NPE from deep inside a parse
    def req(k: String): Any = m.get(k).flatMap(Option(_)).getOrElse(
      throw new PipelineConfigError(s"stage $i ($kindName): missing '$k'"))
    def num[T](k: String, parse: String => T): T = {
      val raw = req(k).toString
      try parse(raw) catch {
        case _: NumberFormatException =>
          throw new PipelineConfigError(s"stage $i: '$k' is not a number: '$raw'")
      }
    }
    // name lists arrive as idiomatic YAML lists ([en, de]) OR as
    // comma-strings — stringifying a List and comma-splitting it would
    // yield garbage names like '[en' that silently filter everything
    def names(k: String): Seq[String] = {
      val vals = req(k) match {
        case l: java.util.List[_] =>
          l.asScala.toSeq.flatMap(Option(_)).map(_.toString)
        case s => s.toString.split(",").toSeq
      }
      val out = vals.map(_.trim).filter(_.nonEmpty)
      if (out.isEmpty) throw new PipelineConfigError(s"stage $i: '$k' is empty")
      out
    }
    req("kind").toString match {
      case "quality_gate"     => QualityGate(num("min_quality", _.toDouble))
      case "quality_linear"   =>
        // the learned-model twin of quality_gate: frozen linear scorer
        // over hashed n-gram features (TextStats.scoreLinear)
        QualityLinear(num("min_logit", _.toDouble),
          m.get("n_features").flatMap(Option(_))
            .map(v => num("n_features", _.toInt)).getOrElse(1024))
      case "normalized_dedup" => NormalizedDedup
      case "exact_dedup"      => ExactDedup
      case "near_dup_drop"    => NearDupDrop(num("max_hamming", _.toInt))
      case "lang_filter"      => LangFilter(names("keep"))
      case "pii_redact"       => PiiRedact
      case "boilerplate_drop" =>
        BoilerplateDrop(num("min_docs", _.toInt),
          m.get("source").flatMap(Option(_)).map(_.toString).getOrElse("source"))
      case "hash_sample"      => HashSample(num("pct", _.toInt))
      case "split_assign"     =>
        // "train:80,val:10,test:10" or a YAML list of name:pct entries —
        // Sampling.splitAssign validates positivity and sum-to-100 at
        // run time
        SplitAssign(namePct("splits", m, i))
      case "token_budget"     =>
        TokenBudget(num("budget_tokens", _.toLong), names("strata"))
      case "paragraph_dedup"  => ParagraphDedup
      case "domain_cap"       =>
        DomainCap(num("k", _.toInt), str("group", m, "source"))
      case "dsir_select"      =>
        DsirSelect(names("target_sources"),
          m.get("buckets").flatMap(Option(_))
            .map(_ => num("buckets", _.toInt)).getOrElse(256),
          str("source", m, "source"))
      case "mixture_calibrate" =>
        MixtureCalibrate(namePct("targets", m, i), str("source", m, "source"))
      case "perplexity_filter" =>
        val keep = m.get("keep_buckets").flatMap(Option(_))
          .map(_ => names("keep_buckets")).getOrElse(Seq("head", "middle"))
        val legal = Set("head", "middle", "tail")
        keep.find(!legal(_)).foreach(bad => throw new PipelineConfigError(
          s"stage $i: keep_buckets entry '$bad' is not one of head|middle|tail"))
        PerplexityFilter(keep,
          m.get("max_piece_len").flatMap(Option(_))
            .map(_ => num("max_piece_len", _.toInt)).getOrElse(4),
          m.get("vocab_size").flatMap(Option(_))
            .map(_ => num("vocab_size", _.toInt)).getOrElse(64))
      case "lr_gate"          =>
        LrGate(req("weights_path").toString,
          m.get("n_weights").flatMap(Option(_))
            .map(_ => num("n_weights", _.toInt)).getOrElse(4))
      case other =>
        throw new PipelineConfigError(s"stage $i: unknown stage kind '$other'")
    }
  }

  private def str(k: String, m: Map[String, Any], default: String): String =
    m.get(k).flatMap(Option(_)).map(_.toString).getOrElse(default)

  /** Parse a "name:pct" list field (the split_assign grammar, shared
    * with mixture_calibrate's targets).
    */
  private def namePct(k: String, m: Map[String, Any], i: Int): Seq[(String, Int)] = {
    def kindName: String =
      m.get("kind").flatMap(Option(_)).map(_.toString).getOrElse("?")
    val raw = m.get(k).flatMap(Option(_)).getOrElse(
      throw new PipelineConfigError(s"stage $i ($kindName): missing '$k'"))
    val vals = raw match {
      case l: java.util.List[_] =>
        l.asScala.toSeq.flatMap(Option(_)).map(_.toString)
      case s => s.toString.split(",").toSeq
    }
    val parts = vals.map(_.trim).filter(_.nonEmpty)
    if (parts.isEmpty) throw new PipelineConfigError(s"stage $i: '$k' is empty")
    parts.map { part =>
      part.split(":") match {
        case Array(name, pct) =>
          val p = try pct.trim.toInt catch {
            case _: NumberFormatException => throw new PipelineConfigError(
              s"stage $i: $k pct '$pct' is not a number")
          }
          (name.trim, p)
        case _ => throw new PipelineConfigError(
          s"stage $i: $k entry '$part' is not name:pct")
      }
    }
  }

  /** Runs the configured stages in order. Intermediate stages preserve
    * the input column shape; `token_budget` and `split_assign`
    * (final-only, enforced at load) reshape the output.
    *
    * Materialization discipline: a stage's input is eagerly
    * checkpointed ONLY when that stage reads it from BOTH sides of a
    * join (the dedup family) — without the cut, everything upstream
    * (per-row regex pipelines especially) re-evaluates per branch
    * ([[Curation.curate]]'s measured rationale). Single-read stages
    * chain lazily, so a filter→redact→filter run stays one fused
    * pass; checkpointing every stage OUTPUT instead benched the
    * config-driven funnel at 2× its hand-composed twin.
    */
  def run(docs: DataFrame, cfg: Config): DataFrame = {
    val shape = docs.columns.map(col).toIndexedSeq
    // no up-front spread: the leading funnel stages are FILTERS
    // (quality gates, langid), and Catalyst pushes deterministic
    // filters below a round-robin Repartition — the regex stays in the
    // scan task and the exchange is pure cost (round-15 measured
    // +0.3-1.0 s; reverted). At corpus scale the scan has real splits
    // and filter-at-the-scan is the right plan.
    cfg.stages.foldLeft(docs) { (df0, stage) =>
      val df = stage match {
        // join-shaped stages read their input from both sides, and the
        // fit-then-score stages (dsir/perplexity/mixture) run a
        // driver-side fit action over the input before the scoring
        // pass — both re-evaluate upstream lineage without the cut.
        // (lr_gate needs neither: its model is a frozen file artifact
        // and its scoring is map-only.)
        case NormalizedDedup | ExactDedup | NearDupDrop(_) | ParagraphDedup |
             DsirSelect(_, _, _) | MixtureCalibrate(_, _) |
             PerplexityFilter(_, _, _) =>
          df0.localCheckpoint(true)
        case _ => df0
      }
      stage match {
        // stage BODIES live in Curation — one definition for the
        // hand-composed funnel and this runner, so a threshold or
        // tie-rule edit cannot silently diverge the two paths
        case QualityGate(minQ) =>
          Curation.qualityGateStage(df, minQ, cfg.text, shape)
        case QualityLinear(minLogit, nF) =>
          TextStats.scoreLinear(df, nF, minLogit, cfg.id, cfg.text)
            .where(col("keep"))
            .select(shape: _*)
        case NormalizedDedup =>
          Curation.dedupStage(df, cfg.id, md5(Dedup.normalizedText(col(cfg.text))))
        case ExactDedup =>
          Curation.dedupStage(df, cfg.id, md5(col(cfg.text)))
        case NearDupDrop(maxH) =>
          Curation.nearDupDropStage(df, maxH, cfg.id, cfg.text)
        case LangFilter(keep) =>
          TextStats.langIdColumns(df, cfg.text)
            .where(col("lang_pred").isin(keep: _*))
            .select(shape: _*)
        case PiiRedact =>
          TextStats.withPiiColumns(df, cfg.text)
            .withColumn(cfg.text, col("redacted"))
            .select(shape: _*)
        case BoilerplateDrop(minDocs, source) =>
          // the line filter returns only (id, source, text_clean, ...):
          // the cleaned text rejoins the input rows so every other
          // column of the frame survives the stage
          val cleaned = TextStats.dropBoilerplateLines(df, minDocs, cfg.id, source, cfg.text)
            .select(col(cfg.id), col("text_clean"))
          df.join(cleaned, Seq(cfg.id))
            .withColumn(cfg.text, col("text_clean"))
            .select(shape: _*)
        case HashSample(pct) =>
          Sampling.bernoulliByHash(df, col(cfg.id), pct)
        case SplitAssign(splits) =>
          Sampling.splitAssign(df, col(cfg.id), splits)
        case TokenBudget(budget, strata) =>
          Sampling.tokenBudgetSample(df, strata, budget, cfg.id, cfg.text)
            .select((col(cfg.id) +: strata.map(col)
              :+ col("n_tokens") :+ col("cum_tokens")): _*)
        case ParagraphDedup =>
          // corpus-wide first-occurrence paragraph dedup with ordered
          // reassembly (p84): text is REWRITTEN to the surviving
          // paragraphs; a document whose every paragraph was already
          // seen elsewhere keeps nothing and is dropped (it is a dup)
          val kept = Dedup.paragraphDedup(df, id = cfg.id, text = cfg.text)
            .where(col("n_kept") > 0)
            .select(col(cfg.id), col("kept_text"))
          df.join(kept, Seq(cfg.id))
            .withColumn(cfg.text, col("kept_text"))
            .select(shape: _*)
        case DomainCap(k, group) =>
          // RefinedWeb-style per-domain cap (p55): each group
          // surrenders at most k documents, best-first by the p8
          // quality score, ties cut on the id
          Sampling.capPerGroup(
            TextStats.withQualityColumns(df, cfg.text)
              .withColumn("__cap_q", round(col("quality_score"), 6)),
            Seq(group), col("__cap_q"), col(cfg.id), k)
            .select(shape: _*)
        case DsirSelect(targets, buckets, source) =>
          // DSIR selection (p58): importance ratios fit on the target
          // slice vs the whole corpus, every document scored, positive
          // importance kept
          val sel = Dsir.selectByImportance(df,
              col(source).isin(targets: _*), buckets, cfg.text, cfg.id)
            .where(col("keep")).select(col(cfg.id))
          df.join(sel, Seq(cfg.id)).select(shape: _*)
        case MixtureCalibrate(targets, source) =>
          // mixture calibration (p48): per-source keep rates derived
          // from the binding target share; unlisted sources fail
          // closed (rate 0) — the p48 contract
          Sampling.calibrateMixture(df, targets, col(cfg.id), source)
            .where(col("keep"))
            .select(shape: _*)
        case PerplexityFilter(keep, mpl, vs) =>
          // perplexity filter (p54): unigram LM fit on the corpus,
          // per-doc mean piece log-prob bucketed per lang into
          // head/middle/tail terciles; configured buckets survive.
          // Requires a 'lang' column (the p54 grouping contract).
          val sel = UnigramLm.perplexityBuckets(
              df.select(col(cfg.id).as("doc_id"), col("lang"),
                col(cfg.text).as("__pp_text")),
              maxPieceLen = mpl, vocabSize = vs, text = "__pp_text")
            .where(col("bucket").isin(keep: _*))
            .select(col("doc_id").as(cfg.id))
          df.join(sel, Seq(cfg.id)).select(shape: _*)
        case LrGate(path, n) =>
          // trained-classifier gate (p57 serving form): FROZEN weights
          // from a saved artifact (train offline with Logistic.train +
          // saveWeights), score-only on the pipeline corpus — the x26
          // serving pattern reachable from config. MAP-ONLY: the
          // weights are literals and the non-id columns ride through
          // as carry, so the stage adds no join and works on a STREAM
          // unchanged ([[runStreaming]]).
          val w = Logistic.loadWeights(df.sparkSession, path, n)
          val carry = df.columns.filterNot(_ == cfg.id).toSeq
          Logistic.scoreWith(
              Logistic.features(df.withColumnRenamed(cfg.id, "doc_id"),
                cfg.text, carry), w, carry)
            .where(col("keep"))
            .withColumnRenamed("doc_id", cfg.id)
            .select(shape: _*)
      }
    }
  }

  /** The map-only subset of [[run]] on a STREAMING input — the
    * curation gate at INGEST: quality gates (heuristic, linear, and
    * the frozen-weights classifier), language filter, PII redaction,
    * hash sampling, and split assignment are all pure column math, so
    * the SAME stage definitions that curate a batch corpus score every
    * arriving document with zero streaming state (the x26 serving
    * discipline applied to the whole config surface — one reviewed
    * YAML gates both the backfill and the live feed, and the two
    * cannot drift because they execute one definition).
    *
    * Stages that FIT ON or JOIN AGAINST their own input — the dedups,
    * token budget, mixture calibration, DSIR/perplexity fits — are
    * not streamable and fail loudly at SUBMISSION time (the load-time
    * config-error discipline, extended to the stream boundary): their
    * streaming analogs are the dedicated monitors (p16 dedup state,
    * x27 frozen-DSIR serving, x28 windowed rebalance).
    */
  def runStreaming(docs: DataFrame, cfg: Config): DataFrame = {
    require(docs.isStreaming,
      "runStreaming expects a streaming DataFrame; use run for batch")
    cfg.stages.zipWithIndex.foreach {
      case (QualityGate(_) | QualityLinear(_, _) | LangFilter(_) | PiiRedact |
            HashSample(_) | SplitAssign(_) | LrGate(_, _), _) => ()
      case (other, i) => throw new PipelineConfigError(
        s"stage $i (${other.getClass.getSimpleName.stripSuffix("$")}): not streamable — it fits on or " +
          "joins against its own input; run it in the batch pipeline, or use " +
          "its streaming analog (p16 dedup state / x27 frozen-DSIR serving / " +
          "x28 windowed rebalance)")
    }
    run(docs, cfg)
  }
}
