package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Locale, SplittableRandom}

/** One generated study: the files written for it and what a correct
  * load of it must put in the warehouse.
  *
  * @param genes   whitelisted gene ids, one per matrix row of `values`
  * @param samples GSM accessions that carry facts (non-blank accession,
  *                present in the expression header)
  * @param values  `[gene][sample]`, NaN where the cell is blank or
  *                non-numeric (no fact)
  */
final case class Study(acc: String, dir: Path, genes: IndexedSeq[String],
    samples: IndexedSeq[String], values: Array[Array[Double]], dimSamples: Int) {
  def facts: Long = values.iterator.map(_.count(!_.isNaN).toLong).sum
}

/** Shape of a generated study.
  *
  * @param whiteGenes rows on the gene whitelist (these become facts)
  * @param otherGenes rows NOT on the whitelist (dropped by the load)
  * @param blankFrac  share of whitelisted cells left blank; > 0 makes the
  *                   matrix incomplete, so correlate takes the exact
  *                   shared-sample path for the study
  * @param naInWhite  put the one non-numeric cell in a whitelisted row
  *                   (also makes the study incomplete); otherwise it goes
  *                   in a non-whitelisted row
  */
final case class Shape(samples: Int, whiteGenes: Int, otherGenes: Int,
    blankFrac: Double = 0.0, naInWhite: Boolean = true)

/** A generated document and what was planted in it. */
final case class Doc(id: Long, text: String, lang: String, source: String,
    kind: String, email: Option[String])

/** Seeded input generator. Every file is a pure function of the seed:
  * the same seed writes byte-identical files (all randomness comes from
  * `SplittableRandom` streams derived from the seed and a fixed label,
  * and numbers are formatted with `Locale.ROOT`).
  *
  * Study TSV pairs carry the messy cases of the reference's fixtures:
  *  - a variant illness header (`characteristics_ch2_illness`) on every
  *    other study, which must still resolve;
  *  - a metadata row with a blank accession (skipped by the load);
  *  - a row whose `experiment_accession` names another study
  *    (overridden to the directory's accession);
  *  - one non-numeric expression cell (dropped);
  *  - expression rows for genes that are not on the whitelist (dropped).
  */
object Gen {

  val GeneUniverse = 1500
  private def geneId(i: Int) = f"ENSG$i%011d"
  private def whitelisted(i: Int) = i % 3 != 2

  def rng(seed: Long, label: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ label.hashCode.toLong * 0x9E3779B97F4A7C15L)

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** The whitelist TSV (`ensembl_id` plus the reference's other columns). */
  def writeGeneFilter(path: Path): Unit = {
    val sb = new StringBuilder("gene_symbol\tensembl_id\trefinebio_organism\tgene_name\n")
    (0 until GeneUniverse).filter(whitelisted).foreach { i =>
      sb ++= s"SYM$i\t${geneId(i)}\tHomo sapiens\tgene $i\n"
    }
    write(path, sb.toString)
  }

  /** Writes `<root>/<acc>/metadata_<acc>.tsv` and `expression_<acc>.tsv`. */
  def study(root: Path, seed: Long, index: Int, shape: Shape): Study = {
    val acc = f"GSE${100000 + index}%d"
    val r = rng(seed, acc)
    val dir = root.resolve(acc)
    val gsms = (0 until shape.samples).map(j => f"GSM${index}%05d${j}%04d")

    // metadata: one row per sample, plus the blank-accession row; one
    // row names a foreign experiment_accession
    val illnessHeader =
      if (index % 2 == 0) "characteristics_ch1_Illness" else "characteristics_ch2_illness"
    val meta = new StringBuilder(
      s"refinebio_accession_code\texperiment_accession\trefinebio_age\trefinebio_sex\t" +
        s"refinebio_platform\t$illnessHeader\n")
    val mismatched = r.nextInt(shape.samples)
    val illnesses = Array("Healthy", "T1D", "T2D", "")
    gsms.zipWithIndex.foreach { case (g, j) =>
      val exp = if (j == mismatched) "GSE000001" else acc
      val age = if (r.nextInt(10) == 0) "" else (18 + r.nextInt(60)).toString
      val sex = if (r.nextBoolean()) "female" else "male"
      val platform = if (r.nextInt(4) == 0) "GPL96" else "GPL570"
      meta ++= s"$g\t$exp\t$age\t$sex\t$platform\t${illnesses(r.nextInt(illnesses.length))}\n"
      if (j == shape.samples / 2) meta ++= s"\t$acc\t40\tfemale\tGPL570\tHealthy\n"
    }
    write(dir.resolve(s"metadata_$acc.tsv"), meta.toString)

    // genes: a seeded draw of whitelisted and non-whitelisted ids,
    // interleaved in file order
    def draw(pool: IndexedSeq[Int], n: Int): IndexedSeq[Int] = {
      val a = pool.toArray
      for (i <- 0 until n) {
        val j = i + r.nextInt(a.length - i)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(n).toIndexedSeq
    }
    val white = draw((0 until GeneUniverse).filter(whitelisted), shape.whiteGenes).sorted
    val other = draw((0 until GeneUniverse).filterNot(whitelisted), shape.otherGenes).sorted
    val rows = (white.map(g => (g, true)) ++ other.map(g => (g, false)))
      .sortBy { case (g, _) => (g * 2654435761L) % 1000003L }

    // values: three latent factors give the genes real correlation
    // structure; four decimals, parsed back so expectations see exactly
    // what the file says
    val factors = Array.fill(3, shape.samples)(r.nextGaussian())
    val naRow = {
      val cands = rows.indices.filter(i => rows(i)._2 == shape.naInWhite)
      cands(r.nextInt(cands.size))
    }
    val naCol = r.nextInt(shape.samples)
    val expr = new StringBuilder("Gene\t" + gsms.mkString("\t") + "\n")
    val whiteValues = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Double])]
    rows.zipWithIndex.foreach { case ((g, isWhite), ri) =>
      val load = Array.fill(3)(r.nextGaussian())
      val mean = 5.0 + 3.0 * r.nextDouble()
      val vals = Array.tabulate(shape.samples) { s =>
        val v = mean + load(0) * factors(0)(s) + load(1) * factors(1)(s) +
          load(2) * factors(2)(s) + r.nextGaussian()
        java.lang.Double.parseDouble(String.format(Locale.ROOT, "%.4f", Double.box(v)))
      }
      val cells = vals.indices.map { s =>
        if (ri == naRow && s == naCol) { vals(s) = Double.NaN; "NA" }
        else if (isWhite && shape.blankFrac > 0 && r.nextDouble() < shape.blankFrac) {
          vals(s) = Double.NaN; ""
        } else String.format(Locale.ROOT, "%.4f", Double.box(vals(s)))
      }
      expr ++= geneId(g) += '\t' ++= cells.mkString("\t") += '\n'
      if (isWhite) whiteValues += geneId(g) -> vals
    }
    write(dir.resolve(s"expression_$acc.tsv"), expr.toString)
    Study(acc, dir, whiteValues.map(_._1).toIndexedSeq, gsms,
      whiteValues.map(_._2).toArray, dimSamples = shape.samples)
  }

  // ---- document corpus --------------------------------------------------

  private val Stop = Array("the", "a", "and", "of", "to", "in", "is")
  private val Vocab = Array("data", "table", "query", "stream", "spark", "value",
    "sample", "gene", "model", "index", "batch", "merge", "window", "column",
    "filter", "join", "order", "group", "vector", "result", "study", "record",
    "partition", "shuffle", "driver", "worker", "cluster", "memory", "storage",
    "network", "latency", "budget", "signal", "source", "target", "corpus",
    "token", "document", "paragraph", "section", "chapter", "review", "report",
    "measure", "metric", "layer", "engine", "planner", "schema", "format")
  private val Foreign = Map(
    "de" -> Array("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Array("le", "les", "et", "est", "un", "que", "une"),
    "es" -> Array("el", "los", "y", "es", "que", "del", "las"))

  /** The corpus, in `documents` schema order. Planted kinds: `base`
    * English documents (each with a unique `refN` token, some with a
    * shared boilerplate paragraph), `exact` copies, `normalized` copies
    * (case and punctuation changed), `near` copies (one word changed),
    * `foreign` (non-English), `pii` (an email and a phone number) and
    * `low` (short, punctuation-heavy).
    */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, "corpus")
    def words(k: Int, stop: Array[String]): String =
      Seq.fill(k)(if (r.nextInt(10) < 3) stop(r.nextInt(stop.length))
        else Vocab(r.nextInt(Vocab.length))).mkString(" ")
    val boiler = IndexedSeq.tabulate(12)(i => s"notice $i " + words(24, Stop))
    def english(ref: Int): String = {
      val paras = Seq.fill(1 + r.nextInt(3))(words(20 + r.nextInt(30), Stop))
      val body = (paras.head + s" ref$ref") +: paras.tail
      val all = if (r.nextInt(10) < 3) body :+ boiler(r.nextInt(boiler.size)) else body
      all.mkString("\n\n")
    }
    // the mix is fixed (every block of 50 ids holds the same kinds, in a
    // seeded order), so every seed does the same amount of work
    val block = {
      val kinds = Seq("exact" -> 3, "normalized" -> 3, "near" -> 2, "foreign" -> 7,
        "pii" -> 4, "low" -> 4, "base" -> 27).flatMap { case (k, c) => Seq.fill(c)(k) }.toArray
      for (i <- kinds.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      }
      kinds
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val bases = scala.collection.mutable.ArrayBuffer.empty[String]
    for (id <- 0 until n) {
      val source = s"src${id % 20}"
      def copyOf() = bases(r.nextInt(bases.size))
      val doc = (if (bases.isEmpty) "base" else block(id % block.length)) match {
        case "exact" => Doc(id, copyOf(), "en", source, "exact", None)
        case "normalized" =>
          val t = copyOf()
          Doc(id, t.head.toUpper.toString + t.tail + " !!", "en", source, "normalized", None)
        case "near" =>
          val t = copyOf().split(" ", -1)
          val k = r.nextInt(t.length)
          if (!t(k).contains('\n')) t(k) = Vocab(r.nextInt(Vocab.length))
          Doc(id, t.mkString(" "), "en", source, "near", None)
        case "foreign" =>
          val (lang, stop) = Foreign.toSeq.sortBy(_._1).apply(id % Foreign.size)
          Doc(id, words(30 + r.nextInt(40), stop), lang, source, "foreign", None)
        case "pii" =>
          val email = s"user$id.name@example.org"
          val phone = f"555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
          Doc(id, english(id) + s" contact $email or call $phone", "en", source, "pii",
            Some(email))
        case "low" =>
          Doc(id, words(6 + r.nextInt(8), Stop).replace(" ", " !! ") + " ???", "en",
            source, "low", None)
        case _ =>
          val t = english(id)
          bases += t
          Doc(id, t, "en", source, "base", None)
      }
      docs += doc
    }
    docs.toIndexedSeq
  }

  /** Writes the corpus as one parquet file in the repository's
    * `documents` schema (doc_id, text, lang, source, n_chars), through
    * parquet-mr directly so the bytes depend on the documents only.
    */
  def writeCorpus(path: Path, docs: Seq[Doc]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional int64 doc_id;
        |  optional binary text (STRING);
        |  optional binary lang (STRING);
        |  optional binary source (STRING);
        |  optional int64 n_chars;
        |}""".stripMargin)
    Files.createDirectories(path.getParent)
    Files.deleteIfExists(path)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withType(schema)
      .build()
    val f = new SimpleGroupFactory(schema)
    try docs.foreach { d =>
      writer.write(f.newGroup().append("doc_id", d.id).append("text", d.text)
        .append("lang", d.lang).append("source", d.source)
        .append("n_chars", d.text.length.toLong))
    } finally writer.close()
    // parquet-mr leaves a checksum file beside the data; the corpus is
    // the one file
    Files.deleteIfExists(path.resolveSibling("." + path.getFileName + ".crc"))
  }
}
