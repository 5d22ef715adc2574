package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite doesn't pay session startup per class).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir, deleted with its
    * contents after the spec's last test.
    */
  protected def tmpDir(prefix: String = "graft-spec"): Path = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => SparkSpec.deleteTree(d))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // the production cache size, so the suite compiles and reuses
      // generated code as a long-lived driver does
      .config("spark.sql.codegen.cache.maxEntries", graft.GraftSession.CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deletes `root` and everything under it; a missing path is a no-op. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally paths.close()
    }
}
