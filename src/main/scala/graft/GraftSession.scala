package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: the configuration posture every graft
  * pipeline assumes, in one place.
  *
  * - AQE on (runtime coalescing, skew-join splitting, SMJ→broadcast)
  * - shuffle partitions sized to the machine, not the 200 default
  * - UTC session timezone (oracle/corpus contract)
  * - parquet timestamps written as TIMESTAMP_MICROS, not Spark's INT96
  *   default: Parquet defines no order for INT96, so its footers carry
  *   no min/max, and graft tables read their write-time column stats
  *   off the footers of the files each write stages — an INT96
  *   timestamp column would record no range and never prune
  * - the graft extensions: native functions (graft_dot,
  *   graft_normalize_text, graft_char_shingles, …), the statement
  *   parser, and the rule that reads graft tables through Spark's own
  *   Parquet file scan (a session without it gets the DSv2 scan, which
  *   serves the same plan's rows converted back)
  * - a generated-class cache of [[CodegenCacheEntries]] (see there)
  * - the `file:` scheme served by [[sources.GraftLocalFileSystem]]
  *   (FileSystem API) and [[sources.GraftLocalFs]] (FileContext API):
  *   without libhadoop, Hadoop's local file system starts a `chmod`
  *   process for every file and directory it creates and a `readlink`
  *   process for every FileContext rename, about 3 ms each from a
  *   3 GB JVM. The graft classes make both calls through `java.nio`
  *   with the same resulting mode bits and statuses, so Parquet task
  *   writers, job setup and commit, manifest publishes and stream
  *   checkpoint commits run without forking (BASELINE.md: 2,752
  *   processes per 60-s sql_dml run → 32, none `chmod` or
  *   `readlink`). HDFS and object stores are untouched. Like the
  *   cache size these are constants: the classes behave as Hadoop's
  *   own, so no session needs the stock ones.
  *
  * Deliberately NOT set: `spark.sql.parquet.aggregatePushdown` — it
  * only fires on the DSv2 path (empty `useV1SourceList`), and flipping
  * every parquet read to v2 for one metadata-count win risks subtle
  * behavior changes (TIMESTAMP(NANOS) handling, mergeSchema) across
  * the whole oracled surface; the v1 count already reads struct<>
  * (row-group headers only). Measured, see BASELINE.md.
  *
  * On a real cluster the same builder applies — only master/memory
  * change; `spark.sql.extensions=graft.functions.GraftExtensions` is
  * the config-file alternative to `registerFunctions`.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A graft
    * session is long-lived and runs a recurring statement mix: one
    * round of SQL MERGE, UPDATE, DELETE, point reads, aggregates and a
    * streamed change file needs about 110 recurring classes plus about
    * 30 one-offs whose code inlines a literal (an lsn, a key). Under
    * the default LRU of 100 the recurring classes evict each other, so
    * every statement recompiled all of its code every time, about 140
    * compiles per round. Ten times the default keeps the whole mix
    * resident with room for the one-offs (BASELINE.md: about 140 → 28
    * compiles per round, live heap unchanged within noise). The cache
    * is sized once, from the session conf active at the JVM's first
    * codegen, so it must be set here, on the builder, and not later. */
  val CodegenCacheEntries = 1000

  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[sources.GraftLocalFs].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // functions AND the MERGE-statement parser (r15) at session
      // build — spark.sql("MERGE INTO <graft table> …") just works
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** Local session with graft functions registered. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession = {
    val spark = builder(cores).master(s"local[$cores]").getOrCreate()
    registerFunctions(spark)
    spark
  }

  /** Idempotently register the native graft functions. */
  def registerFunctions(spark: SparkSession): Unit = {
    functions.VectorExpressions.register(spark)
    functions.NormalizeText.register(spark)
    functions.CharShingles.register(spark)
    functions.KllSketchAgg.register(spark)
    functions.FreqSketchAgg.register(spark)
    functions.JaroWinkler.register(spark)
    functions.ThetaSketchAgg.register(spark)
    functions.MediaHash.register(spark)
  }
}
