package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** YAML config loading (reference: src/etl_for_all_studies/config.py:112-192
  * — section defaults, required keys, field-mapping overrides).
  */
class EtlConfigSpec extends AnyFunSuite {

  private def write(content: String): String = {
    val f = Files.createTempFile("etlconfig", ".yaml")
    f.toFile.deleteOnExit()
    Files.writeString(f, content)
    f.toString
  }

  test("S9: full config with overrides parses; defaults fill the rest") {
    val path = write(
      """database:
        |  connection_string: "parquet://wh"
        |  batch_size: 500
        |processing:
        |  input_directory: /data/in
        |  gene_filter_file: /data/genes.tsv
        |  max_concurrent_studies: 3
        |logging:
        |  log_level: DEBUG
        |  log_data_quality: false
        |field_mappings:
        |  age_fields: [my_age_col]
        |""".stripMargin)
    val cfg = EtlConfig.load(path)
    assert(cfg.database.connectionString == "parquet://wh")
    assert(cfg.database.batchSize == 500)
    assert(cfg.database.maxRetries == 5) // default
    assert(cfg.processing.maxConcurrentStudies == 3)
    assert(cfg.logging.logLevel == "DEBUG")
    assert(!cfg.logging.logDataQuality)
    assert(cfg.logging.logRecordCounts) // default
    assert(cfg.fieldMappings.ageFields == Seq("my_age_col")) // override
    assert(cfg.fieldMappings.sexFields.head == "refinebio_sex") // default list kept
  }

  test("S9: missing required keys raise ConfigurationError") {
    val noConn = write(
      """processing:
        |  input_directory: /in
        |  gene_filter_file: /genes.tsv
        |""".stripMargin)
    assertThrows[ConfigurationError](EtlConfig.load(noConn))
    val noInput = write(
      """database:
        |  connection_string: x
        |""".stripMargin)
    assertThrows[ConfigurationError](EtlConfig.load(noInput))
    assertThrows[ConfigurationError](EtlConfig.load("/nonexistent/path.yaml"))
    assertThrows[ConfigurationError](EtlConfig.load(write("")))
  }
}
