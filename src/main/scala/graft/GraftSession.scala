package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration this engine assumes.
  *
  * Local mode is the test harness; the settings are chosen so the same
  * logical plans scale to a real cluster: AQE handles runtime
  * coalescing/skew, and all timestamps are pinned to UTC for oracle
  * parity. NOTE: `.master(local[n])` and the shuffle-partition count
  * are EXPLICIT here and take precedence over spark-submit --conf /
  * spark-defaults — a cluster deployment should build its own session
  * and apply only the semantic settings below (ANSI off, UTC,
  * nanosAsLong, AQE, the codegen cache size) rather than reuse this
  * local-mode builder.
  *
  * == Generated-code cache ==
  * Spark keeps compiled whole-stage and projection classes in one
  * JVM-wide LRU keyed on the generated source. Its default of 100
  * entries is smaller than the working set of one incremental ingest
  * step, so a long-lived driver (`etl-stream --follow`, or any JVM
  * that runs drain after drain) evicted every class before the next
  * micro-batch needed it and recompiled all of them each time.
  * [[CodegenCacheEntries]] sizes the cache from the measured working
  * set (classes compiled per warm repetition, perfbench traced runs
  * and graft.Bench on 4 cores):
  *
  * {{{
  *   operation                               at 100 (default)   at 1024
  *   etl-stream drain + correlate --study         237               2
  *   curate (8-stage pipeline)                     88               0
  *   graft.Bench pass (182 queries)             ~4.1k     still misses
  * }}}
  *
  * The size is a power of two at least 4x the largest per-operation
  * set, because the Guava cache behind it splits `maximumSize` across
  * its segments and each segment evicts on its own share. It is
  * deliberately NOT sized to hold a whole `graft.Bench` pass: that
  * would pin ~4k classes in metaspace and turn the bench's min-of-3
  * into a measurement of the cache instead of the plans. A one-shot
  * CLI JVM gains nothing; the gain is cross-batch reuse in one JVM.
  *
  * Spark reads the size ONCE per JVM, in the static initializer of
  * `CodeGenerator` (from `SQLConf.get` at the JVM's first use of the
  * code generator). It therefore works only if the session carries it
  * before the first query runs; setting it on a session afterwards is
  * silently ignored for the life of the JVM. A cluster deployment
  * that builds its own session should pass
  * `--conf spark.sql.codegen.cache.maxEntries=1024` at submit time:
  * the driver then reads it from its session, and each executor JVM
  * (which has its own cache) reads it from the SQL conf the driver
  * propagates with every task.
  */
object GraftSession {
  /** Entries in the JVM-wide generated-code cache (see the object doc). */
  val CodegenCacheEntries: Int = 1024

  def builder(appName: String = "graft", cores: String = "32"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // custom expressions (erf, md5-hex64, dot) on the SQL surface of
      // EVERY engine session — Verify/Bench build via this builder, so
      // registering only in getOrCreate would drift their config from
      // the tested one; clusters can equivalently set
      // spark.sql.extensions=graft.functions.GraftExtensions
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Reference semantics are non-throwing: invalid numeric casts
      // become null-and-drop (SURVEY.md §2.2 F4) and zero-variance corr
      // yields NaN-and-drop (§2.6 C4); ANSI mode would raise instead.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Generated methods beyond HotSpot's JIT limits run interpreted
      // or stall C2; falling back to Volcano beyond this size is far
      // more predictable on this box (see BENCH notes).
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // several operators pin eager localCheckpoint blocks (Spearman
      // pair subtree, MinHash/SimHash signatures); the ContextCleaner
      // only reclaims them after a driver GC and its default forced-GC
      // interval is 30min — long multi-query sessions (Bench: ~90
      // query executions in one JVM) otherwise accumulate dead blocks
      // and degrade later queries
      .config("spark.cleaner.periodicGC.interval", sys.env.getOrElse("SPARK_GRAFT_GC_INTERVAL", "1min"))
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
