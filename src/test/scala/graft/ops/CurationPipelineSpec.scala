package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import CurationPipeline._

/** The declarative pipeline contract: a YAML stage list delegates to
  * the SAME verified operators as hand-composed code (differential
  * against [[Curation.curate]] and the standalone ops), and config
  * errors die at load time with the stage index named.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("config encoding the p30 funnel equals the hand-composed run") {
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: quality_gate
        |      min_quality: 0.78
        |    - kind: normalized_dedup
        |    - kind: near_dup_drop
        |      max_hamming: 3
        |    - kind: token_budget
        |      budget_tokens: 800
        |      strata: source
        |""".stripMargin)
    val declarative = CurationPipeline.run(docs, cfg)
      .collect().map(_.toSeq).toSet
    val composed = Curation.curate(docs, minQuality = 0.78,
      budgetTokens = 800L, maxHamming = 3, strata = Seq("source"))
      .collect().map(_.toSeq).toSet
    assert(declarative.nonEmpty && declarative == composed)
  }

  test("quality_linear stage matches the standalone scorer and a top-level list fails loudly") {
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: quality_linear
        |      min_logit: 0.0
        |""".stripMargin)
    val staged = CurationPipeline.run(docs, cfg)
      .select("doc_id").as[Long].collect().toSet
    val direct = TextStats.scoreLinear(docs, nFeatures = 1024, threshold = 0.0)
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(staged.nonEmpty && staged == direct)
    // the scorer is a real filter on this corpus, not a pass-through
    assert(staged.size < docs.count())
    // a stage list pasted without its 'pipeline:' wrapper must raise
    // the config error naming the shape, not a ClassCastException
    val e = intercept[PipelineConfigError] {
      loadString("- kind: quality_linear\n  min_logit: 0.0\n")
    }
    assert(e.getMessage.contains("top level must be a mapping"))
  }

  test("lang_filter, pii_redact and exact_dedup stages match the standalone ops") {
    val d = Seq(
      (1L, "s0", "the cat and the dog are here with the other ones"),
      (2L, "s0", "the cat and the dog are here with the other ones"), // exact dup
      (3L, "s0", "der hund und die katze sind auch noch da"),
      (4L, "s1", "the mail is a.b@example.com and that is the address")
    ).toDF("doc_id", "source", "text")
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: exact_dedup
        |    - kind: lang_filter
        |      keep: en
        |    - kind: pii_redact
        |""".stripMargin)
    val out = CurationPipeline.run(d, cfg)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // dup 2 dropped, German 3 dropped, email in 4 redacted, 1 intact
    assert(out.keySet == Set(1L, 4L))
    assert(out(4L) == "the mail is <EMAIL> and that is the address")
    assert(out(1L) == "the cat and the dog are here with the other ones")
    // shape preserved by intermediate stages
    assert(CurationPipeline.run(d, cfg).columns.toSeq ==
      Seq("doc_id", "source", "text"))
  }

  test("boilerplate_drop stage rewrites text through the line filter") {
    val d = Seq(
      (1L, "s0", "MENU\nreal content one"),
      (2L, "s0", "MENU\nreal content two"),
      (3L, "s0", "MENU\nreal content three")
    ).toDF("doc_id", "source", "text")
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: boilerplate_drop
        |      min_docs: 3
        |""".stripMargin)
    val out = CurationPipeline.run(d, cfg)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) == "real content one" && out(3L) == "real content three")
    // on the documents schema every other column survives the stage
    val wide = d.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val wideOut = CurationPipeline.run(wide, cfg)
    assert(wideOut.columns.toSeq == wide.columns.toSeq)
    assert(wideOut.select("doc_id", "text", "lang", "n_chars")
      .as[(Long, String, String, Int)].collect().toSet == Set(
        (1L, "real content one", "en", 21), (2L, "real content two", "en", 21),
        (3L, "real content three", "en", 23)))
  }

  test("hash_sample and split_assign stages match the standalone samplers") {
    val d = (1L to 500L).map(i => (i, s"s${i % 2}", s"text $i"))
      .toDF("doc_id", "source", "text")
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: hash_sample
        |      pct: 20
        |    - kind: split_assign
        |      splits: train:80, val:10, test:10
        |""".stripMargin)
    val out = CurationPipeline.run(d, cfg)
    assert(out.columns.toSeq == Seq("doc_id", "source", "text", "split"))
    val got = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    val wantIds = Sampling.bernoulliByHash(d, col("doc_id"), 20)
      .select("doc_id").as[Long].collect().toSet
    assert(got.keySet == wantIds && got.nonEmpty)
    // the sampled docs inherit the production split: pct-20 is a
    // bucket prefix of the train cut
    assert(got.values.forall(_ == "train"))
  }

  test("idiomatic YAML lists parse as name lists, not stringified garbage") {
    val d = Seq(
      (1L, "s0", "the cat and the dog are here with the other ones"),
      (2L, "s0", "der hund und die katze sind auch noch da")
    ).toDF("doc_id", "source", "text")
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: lang_filter
        |      keep: [en, de]
        |""".stripMargin)
    // both languages kept — a toString'd list would yield '[en'/'de]'
    // and silently filter everything
    assert(CurationPipeline.run(d, cfg).count() == 2)
    val cfg2 = loadString(
      """pipeline:
        |  stages:
        |    - kind: split_assign
        |      splits: [ "train:80", "val:10", "test:10" ]
        |""".stripMargin)
    assert(CurationPipeline.run(d, cfg2).columns.contains("split"))
  }

  test("paragraph_dedup stage rewrites text through the p84 operator; an all-dup doc is dropped") {
    val d = Seq(
      (1L, "s0", "alpha beta\n\nshared passage here"),
      (2L, "s0", "shared passage here\n\ngamma delta"), // loses para 1
      (3L, "s0", "shared passage here")                 // nothing novel -> dropped
    ).toDF("doc_id", "source", "text")
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: paragraph_dedup
        |""".stripMargin)
    val out = CurationPipeline.run(d, cfg)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == "alpha beta\n\nshared passage here")
    assert(out(2L) == "gamma delta")
    assert(CurationPipeline.run(d, cfg).columns.toSeq ==
      Seq("doc_id", "source", "text"))
  }

  test("domain_cap stage equals the p55 capPerGroup derivation") {
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: domain_cap
        |      k: 10
        |""".stripMargin)
    val staged = CurationPipeline.run(docs, cfg)
      .select("doc_id").as[Long].collect().toSet
    val direct = Sampling.capPerGroup(
        TextStats.withQualityColumns(docs)
          .withColumn("__q", round(col("quality_score"), 6)),
        Seq("source"), col("__q"), col("doc_id"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(staged.nonEmpty && staged == direct)
    assert(staged.size < docs.count())
  }

  test("dsir_select stage equals the p58 selectByImportance keep set") {
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: dsir_select
        |      target_sources: [src0, src1, src2]
        |""".stripMargin)
    val staged = CurationPipeline.run(docs, cfg)
      .select("doc_id").as[Long].collect().toSet
    val direct = Dsir.selectByImportance(docs,
        col("source").isin("src0", "src1", "src2"))
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(staged.nonEmpty && staged == direct)
  }

  test("mixture_calibrate stage equals the p48 calibration keep set; unlisted sources fail closed") {
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: mixture_calibrate
        |      targets: src0:50, src1:30, src2:20
        |""".stripMargin)
    val staged = CurationPipeline.run(docs, cfg)
    val stagedIds = staged.select("doc_id").as[Long].collect().toSet
    val direct = Sampling.calibrateMixture(docs,
        Seq(("src0", 50), ("src1", 30), ("src2", 20)), col("doc_id"))
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(stagedIds.nonEmpty && stagedIds == direct)
    // sources outside the target list surrender everything
    val srcs = staged.select("source").distinct().as[String].collect().toSet
    assert(srcs.subsetOf(Set("src0", "src1", "src2")))
  }

  test("perplexity_filter stage equals the p54 bucket membership") {
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: perplexity_filter
        |      keep_buckets: [head, middle]
        |""".stripMargin)
    val staged = CurationPipeline.run(docs, cfg)
      .select("doc_id").as[Long].collect().toSet
    val direct = UnigramLm.perplexityBuckets(docs)
      .where(col("bucket").isin("head", "middle"))
      .select("doc_id").as[Long].collect().toSet
    assert(staged.nonEmpty && staged == direct)
    assert(staged.size < docs.count(), "tail bucket must actually drop")
    // an unknown bucket name dies at LOAD time
    val e = intercept[PipelineConfigError] {
      loadString(
        """pipeline:
          |  stages:
          |    - kind: perplexity_filter
          |      keep_buckets: [best]
          |""".stripMargin)
    }
    assert(e.getMessage.contains("'best' is not one of head|middle|tail"))
  }

  test("lr_gate stage scores with FROZEN saved weights and equals the direct scoreWith keep set") {
    val feat = Logistic.features(docs).localCheckpoint(true)
    val w = Logistic.train(feat, rounds = 3)
    val wPath = tmpDir("graft_cp_lrw")
      .resolve("weights").toString
    Logistic.saveWeights(spark, wPath, w)
    val cfg = loadString(
      s"""pipeline:
         |  stages:
         |    - kind: lr_gate
         |      weights_path: $wPath
         |""".stripMargin)
    val staged = CurationPipeline.run(docs, cfg)
      .select("doc_id").as[Long].collect().toSet
    val direct = Logistic.scoreWith(feat, w)
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(staged.nonEmpty && staged == direct)
    // a weights file with the wrong arity fails loudly, not silently
    intercept[IllegalArgumentException] {
      CurationPipeline.run(docs, loadString(
        s"""pipeline:
           |  stages:
           |    - kind: lr_gate
           |      weights_path: $wPath
           |      n_weights: 6
           |""".stripMargin)).collect()
    }
  }

  test("runStreaming: map-only stages equal the batch run on the same rows; fit-on-input stages rejected at submission") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rows = Seq(
      (1L, "s0", "the cat and the dog are here with the other ones"),
      (2L, "s0", "der hund und die katze sind auch noch da"),
      (3L, "s1", "the mail is a.b@example.com and that is the address"))
    val cfg = loadString(
      """pipeline:
        |  stages:
        |    - kind: lang_filter
        |      keep: en
        |    - kind: pii_redact
        |""".stripMargin)
    val source = MemoryStream[(Long, String, String)]
    source.addData(rows: _*)
    val streamDf = source.toDF().toDF("doc_id", "source", "text")
    val q = CurationPipeline.runStreaming(streamDf, cfg)
      .writeStream.format("memory").queryName("cur_stream_gate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cur_stream_gate")
      .select("doc_id", "source", "text").as[(Long, String, String)]
      .collect().toSet
    val batch = CurationPipeline.run(rows.toDF("doc_id", "source", "text"), cfg)
      .as[(Long, String, String)].collect().toSet
    // German doc 2 dropped, doc 3's email redacted — and the stream
    // gate equals the batch runner row for row (ONE stage definition)
    assert(streamed == batch && streamed.map(_._1) == Set(1L, 3L))
    assert(streamed.exists(_._3.contains("<EMAIL>")))
    // a fit-on-input stage dies at SUBMISSION, before any query starts
    val bad = loadString("pipeline:\n  stages:\n    - kind: exact_dedup\n")
    val e = intercept[PipelineConfigError] {
      CurationPipeline.runStreaming(streamDf, bad)
    }
    assert(e.getMessage.contains("not streamable"))
    // and a batch frame is routed to run, loudly
    intercept[IllegalArgumentException] {
      CurationPipeline.runStreaming(rows.toDF("doc_id", "source", "text"), cfg)
    }
  }

  test("curate CLI: end-to-end YAML run from Main, exit 0, survivors written") {
    val tmp = tmpDir("graft_curate_cli")
    val cfgPath = tmp.resolve("pipeline.yaml")
    java.nio.file.Files.writeString(cfgPath,
      """pipeline:
        |  stages:
        |    - kind: quality_gate
        |      min_quality: 0.78
        |    - kind: exact_dedup
        |    - kind: domain_cap
        |      k: 50
        |    - kind: mixture_calibrate
        |      targets: src0:50, src1:30, src2:20
        |""".stripMargin)
    val outDir = tmp.resolve("out").toString
    val code = graft.etl.Main.run(Array("curate",
      "--config", cfgPath.toString,
      "--input", "/root/testdata/sf0.001/documents.parquet",
      "--output", outDir), spark)
    assert(code == 0)
    val out = spark.read.parquet(outDir)
    assert(out.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    val n = out.count()
    assert(n > 0 && n < docs.count())
    // a bad config exits 2 through the usage path, never a raw throw
    java.nio.file.Files.writeString(cfgPath,
      "pipeline:\n  stages:\n    - kind: no_such_stage\n")
    assert(graft.etl.Main.run(Array("curate",
      "--config", cfgPath.toString,
      "--input", "/root/testdata/sf0.001/documents.parquet",
      "--output", outDir), spark) == 2)
  }

  test("curate CLI: refuses an output that overlaps the input (the overwrite would destroy the source)") {
    // Spark's own same-path detection is defeated once a pipeline
    // stage localCheckpoints (the plan source becomes a LogicalRDD),
    // so Main must refuse BEFORE the write — and leave the source
    // untouched
    val tmp = tmpDir("graft_curate_overlap")
    val cfgPath = tmp.resolve("pipeline.yaml")
    java.nio.file.Files.writeString(cfgPath,
      "pipeline:\n  stages:\n    - kind: quality_gate\n      min_quality: 0.5\n")
    val src = tmp.resolve("corpus").toString
    docs.limit(20).write.parquet(src)
    def curate(in: String, out: String): Int = graft.etl.Main.run(
      Array("curate", "--config", cfgPath.toString,
        "--input", in, "--output", out), spark)
    // output == input (including a non-canonical spelling of the path)
    assert(curate(src, src) == 2)
    assert(curate(src, src + "/../corpus") == 2)
    // output nested under input; input nested under output
    assert(curate(src, src + "/part-nested") == 2)
    assert(curate(tmp.resolve("corpus/x.parquet").toString,
      tmp.resolve("corpus").toString) == 2)
    // the refused source is intact and readable
    assert(spark.read.parquet(src).count() == 20L)
    // a disjoint sibling still runs
    assert(curate(src, tmp.resolve("out").toString) == 0)
  }

  test("config errors fail at load with the stage named") {
    def err(yaml: String): String =
      intercept[PipelineConfigError](loadString(yaml)).getMessage
    assert(err("pipeline:\n  stages:\n    - kind: no_such_stage\n")
      .contains("unknown stage kind 'no_such_stage'"))
    assert(err(
      """pipeline:
        |  stages:
        |    - kind: token_budget
        |      budget_tokens: 10
        |      strata: source
        |    - kind: exact_dedup
        |""".stripMargin).contains("must be the final stage"))
    assert(err("pipeline:\n  stages:\n    - kind: quality_gate\n")
      .contains("missing 'min_quality'"))
    assert(err("pipeline:\n  stages: []\n").contains("non-empty"))
    assert(err(
      """pipeline:
        |  stages:
        |    - kind: split_assign
        |      splits: train:80, val:20
        |    - kind: exact_dedup
        |""".stripMargin).contains("must be the final stage"))
    assert(err(
      """pipeline:
        |  stages:
        |    - kind: split_assign
        |      splits: train-80
        |""".stripMargin).contains("not name:pct"))
    assert(err("nothing: here\n").contains("pipeline"))
    assert(err(
      """pipeline:
        |  stages:
        |    - kind: near_dup_drop
        |      max_hamming: lots
        |""".stripMargin).contains("not a number"))
    // a present-but-null value is a MISSING field, never a bare NPE
    assert(err("pipeline:\n  stages:\n    - kind: quality_gate\n      min_quality:\n")
      .contains("missing 'min_quality'"))
  }
}
