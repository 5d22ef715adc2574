package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import perfbench.Fs._

/** Checks that the benchmark's output checks reject corrupted outputs:
  * a clean load and correlate must pass every check, and each
  * corruption below must fail at least one. Exits 0 when all hold.
  *
  * {{{
  * python3 perfbench/run.py --selftest
  * }}}
  */
object SelfTest {

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(argv.indexOf("--work") + 1)).toAbsolutePath
    val ctx = new Ctx(Bench.Opts("selftest", 7L, 0, trace = false, work, 2))
    ctx.spark = graft.GraftSession.getOrCreate("perfbench-selftest")
    val spark = ctx.spark
    val inputs = work.resolve("inputs")
    val filter = inputs.resolve("filter_genes.tsv")
    Gen.writeGeneFilter(filter)
    val studies = Seq(
      Gen.study(inputs.resolve("studies"), 7L, 0, Shape(samples = 12, whiteGenes = 16, otherGenes = 8)),
      Gen.study(inputs.resolve("studies"), 7L, 1,
        Shape(samples = 12, whiteGenes = 12, otherGenes = 8, blankFrac = 0.1)))
    val refs = studies.map(s => s.acc -> Ref.pairs(s)).toMap
    val cfg = work.resolve("etl.yaml")
    Files.write(cfg, s"""database:
      |  connection_string: unused
      |processing:
      |  input_directory: ${inputs.resolve("studies")}
      |  gene_filter_file: $filter
      |""".stripMargin.getBytes("UTF-8"))
    val clean = work.resolve("wh-clean")
    ctx.cli("etl", "etl", "--config", cfg.toString, "--warehouse", clean.toString)
    ctx.cli("stats", "correlate", "--warehouse", clean.toString)

    def failures(wh: Path): Long = {
      val before = ctx.failed
      Checks.warehouse(ctx, wh, studies)
      Checks.pairs(ctx, wh, studies, refs, 7L)
      ctx.failed - before
    }

    /** A copy of the clean warehouse with `table` rewritten by `f`. */
    def corrupted(name: String, table: String)(f: DataFrame => DataFrame): Path = {
      val wh = work.resolve(s"wh-$name")
      copy(clean, wh)
      val src = spark.read.parquet(s"$wh/$table")
      f(src).write.partitionBy("study_key").parquet(s"$wh/${table}__corrupt")
      delete(wh.resolve(table))
      Files.move(wh.resolve(s"${table}__corrupt"), wh.resolve(table))
      wh
    }

    val target = studies.head.acc
    val key = spark.read.parquet(s"$clean/dim_study").where(col("gse_accession") === target)
      .head.getAs[Long]("study_key")
    val mine = col("study_key") === key
    def pairsWith(name: String)(f: DataFrame => DataFrame) =
      failures(corrupted(name, "fact_gene_pair_corr")(f))
    def curated(kept: Map[Long, String]) = {
      val before = ctx.failed
      Checks.curated(ctx, kept, Seq("a.b@example.org"), Seq((1L, 1L)), 10L)
      ctx.failed - before
    }
    // (case, failed checks, whether the checks must fail)
    val cases: Seq[(String, () => Long, Boolean)] = Seq(
      ("clean load and correlate", () => failures(clean), false),
      ("pair rows missing", () => pairsWith("pairs-missing") { df =>
        val first = df.where(mine).agg(min("gene_a_key")).head.getLong(0)
        df.where(!(mine && col("gene_a_key") === first))
      }, true),
      ("rho off by 1e-6", () => pairsWith("rho")(
        _.withColumn("rho_spearman", when(mine, col("rho_spearman") + 1e-6)
          .otherwise(col("rho_spearman")))), true),
      ("q off by 0.1%", () => pairsWith("q")(
        _.withColumn("q_value", when(mine, col("q_value") * 1.001).otherwise(col("q_value")))), true),
      ("facts loaded twice", () => failures(corrupted("facts", "fact_expression")(
        df => df.unionByName(df.where(mine)))), true),
      ("clean curate output", () => curated(Map(1L -> "x contact <EMAIL>", 2L -> "y")), false),
      ("a planted email survives", () => curated(Map(1L -> "x contact a.b@example.org", 2L -> "y")),
        true),
      ("two outputs share a normalized digest", () => curated(Map(1L -> "Same text!",
        2L -> "same  text")), true))
    val outcomes = cases.map { case (name, run, shouldFail) =>
      val n = run()
      val ok = if (shouldFail) n > 0 else n == 0
      System.err.println(f"[selftest] ${if (ok) "ok  " else "FAIL"} $name%-40s failed checks: $n")
      ok
    }
    spark.stop()
    val passed = outcomes.count(identity)
    println(s"""{"selftest": ${passed == outcomes.size}, "cases": ${outcomes.size}, "passed": $passed}""")
    if (passed != outcomes.size) sys.exit(1)
  }
}
