package graft.ops.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

import graft.SparkSpec

/** `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` — declaring
  * per-bucket skipping stats with ONE agg scan and a metadata-only
  * commit, no rewrite (the declaration path that does not cost an
  * O(table) ZORDER at 100 TB). Tested at the API (all three faces
  * recorded off the logical state, declaration sticky across merges,
  * key/unknown-column guards, the race seam dropping rewritten
  * buckets' entries) and at the SQL surface (receipt rows, parens
  * optional, Spark-only ANALYZE variants left to the delegate). */
class AnalyzeSpec extends SparkSpec {

  // buckets kept by the file scan a filtered read executes
  private def keptBuckets(dir: String, filters: sources.Filter*)
      : (Int, Int) = graft.GraftScans.keptBuckets(spark, dir, filters: _*)

  test("analyzeColumns records every applicable face per column off " +
      "the LOGICAL state, metadata-only (no data movement, one " +
      "version), and the stats prune through the DSv2 scan") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_analyze").toString + "/t"
    PartitionedUpsert.init(
      (1L to 100L).map(k => (k, k * 10L, s"name${k / 25L}",
        if (k % 4 == 0) None else Some(k * 1.0))).toDF("k", "v", "s", "d"),
      dir, "k", 4, layout = PartitionedUpsert.LayoutRange)
    val filesBefore = PartitionedUpsert.manifestOrFail(spark, dir)
      .buckets.values.toSet
    val receipt = PartitionedUpsert.analyzeColumns(spark, dir,
      Seq("v", "s", "d"))
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.version == 2L, "one metadata-only commit")
    assert(m.buckets.values.toSet == filesBefore, "no data moved")
    // v: long face + null face; s: string face + null face; d: a
    // DOUBLE is outside the exact-long gate but its null face records
    assert(receipt.toSet == Set(("v", 4L, 0L, 4L), ("s", 0L, 4L, 4L),
      ("d", 0L, 0L, 4L)), s"receipt: $receipt")
    assert(m.colStats.values.forall(p =>
      p.contains("v") && !p.contains("d")))
    assert(m.strStats.values.forall(_.contains("s")))
    assert(m.nullStats.values.forall(p =>
      p.contains("v") && p.contains("s") && p.contains("d")))
    // range face: v ≤ 200 lives in the first key quarter
    assert(keptBuckets(dir, sources.LessThanOrEqual("v", 200L))._1 < 4)
    // string face: names are key-block-correlated
    assert(keptBuckets(dir, sources.EqualTo("s", "name0"))._1 < 4)
    // null face: d has nulls everywhere (every 4th key) → IsNull keeps
    // all, but v records ZERO nulls → IsNull on v keeps none
    assert(keptBuckets(dir, sources.IsNull("v"))._1 == 0)
    // results unchanged by pruning
    assert(spark.read.format("graft").load(dir)
      .filter($"v" <= 200L).count() == 20L)
  }

  test("the declaration is STICKY: a later merge re-records every " +
      "declared face for its touched buckets through the write-riding " +
      "observe — out-of-range merged values stay findable") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_analyze_sticky").toString + "/t"
    PartitionedUpsert.init(
      (1L to 100L).map(k => (k, k * 10L, s"name${k / 25L}"))
        .toDF("k", "v", "s"),
      dir, "k", 4, layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.analyzeColumns(spark, dir, Seq("v", "s")): Unit
    PartitionedUpsert.merge(spark, dir,
      Seq(("u", 9L, 99L, 5L, "zz")).toDF("__op", "__lsn", "k", "v", "s"),
      "k", "__lsn", "__op", Seq("v", "s"), 4): Unit
    val got = spark.read.format("graft").load(dir)
      .filter($"v" <= 5L || $"s" >= "zz")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == Set(99L), "fresh stats must cover the merged row")
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.colStats(3L)("v")._1 <= 5L, "long face re-recorded")
    assert(PartitionedUpsert.strCmp(m.strStats(3L)("s")._2, "zz") >= 0,
      "string face re-recorded")
    assert(m.nullStats(3L).contains("v"), "null face re-recorded")
  }

  test("guards: the table key is refused (its ranges are maintained " +
      "by every write); an unknown column is refused; an empty table " +
      "records nothing and burns no version") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_analyze_guards").toString + "/t"
    PartitionedUpsert.init((1L to 10L).map(k => (k, k)).toDF("k", "v"),
      dir, "k", 2)
    intercept[IllegalArgumentException] {
      PartitionedUpsert.analyzeColumns(spark, dir, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      PartitionedUpsert.analyzeColumns(spark, dir, Seq("nope"))
    }
    PartitionedUpsert.truncate(spark, dir)
    val v = PartitionedUpsert.manifestOrFail(spark, dir).version
    assert(PartitionedUpsert.analyzeColumns(spark, dir, Seq("v"))
      == Seq(("v", 0L, 0L, 0L)))
    assert(PartitionedUpsert.manifestOrFail(spark, dir).version == v,
      "an empty table must not burn a version")
  }

  test("race seam: a merge landing between the ANALYZE scan and its " +
      "publish voids exactly the rewritten bucket's entries; the " +
      "rest record, and the loser still publishes (metadata swap)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_analyze_race").toString + "/t"
    PartitionedUpsert.init(
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v"),
      dir, "k", 4, layout = PartitionedUpsert.LayoutRange)
    val prior = PartitionedUpsert.manifestOrFail(spark, dir)
    // racer rewrites the LAST bucket while our scan is "in flight"
    PartitionedUpsert.merge(spark, dir,
      Seq(("u", 9L, 99L, 123456L)).toDF("__op", "__lsn", "k", "v"),
      "k", "__lsn", "__op", Seq("v"), 4): Unit
    val receipt = PartitionedUpsert.analyzeColumnsFrom(spark, dir,
      prior, Seq("v"))
    assert(receipt == Seq(("v", 3L, 0L, 3L)),
      s"the rewritten bucket's entries must drop: $receipt")
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(!m.colStats.contains(3L) && !m.nullStats.contains(3L),
      "stale entries for the rewritten bucket must be absent")
    // absence = conservative keep: the racer's row stays findable
    assert(spark.read.format("graft").load(dir)
      .filter($"v" === 123456L).count() == 1L)
  }

  test("SQL surface: ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS " +
      "returns the receipt rows (parens optional); Spark-only " +
      "variants are NOT intercepted") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_analyze_sql").toString + "/t"
    PartitionedUpsert.init(
      (1L to 40L).map(k => (k, k * 10L, s"n$k")).toDF("k", "v", "s"),
      dir, "k", 2)
    val tbl = s"analyze_sql_t_${math.abs(dir.hashCode)}"
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dir'")
    val rows = spark.sql(
      s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS (v, s)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows == Set(("v", 2L, 0L, 2L), ("s", 0L, 2L, 2L)), s"$rows")
    // no parens — Spark's own shape
    val rows2 = spark.sql(
      s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS v").collect()
    assert(rows2.length == 1 && rows2.head.getString(0) == "v")
    // Spark-only variants stay with the delegate at PARSE time
    val parser = spark.sessionState.sqlParser
    assert(!parser.parsePlan(
      s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      .isInstanceOf[graft.plans.GraftAnalyzeCommand])
    assert(!parser.parsePlan(
      s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
      .isInstanceOf[graft.plans.GraftAnalyzeCommand])
    spark.sql(s"DROP TABLE $tbl")
  }
}
