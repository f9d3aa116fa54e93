package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.ops.cdc.PartitionedUpsert
import graft.ops.cdc.PartitionedUpsert.Manifest

/** Per-(bucket, column) NULL/ROW counts (r19 — the third leg of the
  * Delta per-file stats trio after min/max and string bounds):
  * `nullstats` manifest lines record (nulls, rows) as one COHERENT
  * pair per declared stat column, IsNull prunes buckets recording
  * zero nulls, IsNotNull prunes all-null buckets, and removal-only
  * rewrites may carry entries because both tests are preserved by row
  * removal (no-nulls stays no-nulls, all-null stays all-null). */
class NullStatsSpec extends SparkSpec {

  private def mkManifest(nullStats: Map[Long, Map[String, (Long, Long)]])
      : Manifest =
    Manifest(version = 1L,
      schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType), StructField("s", StringType))),
      nBuckets = 3, keyCol = "k", txns = Map.empty,
      buckets = Map(0L -> "data/s/bucket=0", 1L -> "data/s/bucket=1",
        2L -> "data/s/bucket=2"),
      nullStats = nullStats)

  test("pure pruner: IsNull prunes a zero-null bucket, IsNotNull " +
      "prunes an all-null bucket, missing entries keep, and the two " +
      "compose with other conjuncts by intersection") {
    val m = mkManifest(Map(
      0L -> Map("v" -> (0L, 50L)),   // no nulls in 50 rows
      1L -> Map("v" -> (50L, 50L)),  // ALL null
      // bucket 2: no entry — always kept
      2L -> Map("s" -> (3L, 40L))))  // some nulls (s only)
    def prune(f: sources.Filter*): Option[Seq[Long]] =
      GraftScanBuilder.pruneBuckets(m, f.toSeq, _ => Seq.empty)
    assert(prune(sources.IsNull("v")) == Some(Seq(1L, 2L)))
    assert(prune(sources.IsNotNull("v")) == Some(Seq(0L, 2L)))
    // s: only bucket 2 records; 3 of 40 null — both predicates keep it
    assert(prune(sources.IsNull("s")) == Some(Seq(0L, 1L, 2L)))
    assert(prune(sources.IsNotNull("s")) == Some(Seq(0L, 1L, 2L)))
    // an unknown column contributes nothing
    assert(prune(sources.IsNull("zz")).isEmpty)
    // an empty recorded bucket (0 rows, 0 nulls) prunes BOTH ways
    val e = mkManifest(Map(0L -> Map("v" -> (0L, 0L))))
    def pe(f: sources.Filter*): Option[Seq[Long]] =
      GraftScanBuilder.pruneBuckets(e, f.toSeq, _ => Seq.empty)
    assert(pe(sources.IsNull("v")) == Some(Seq(1L, 2L)))
    assert(pe(sources.IsNotNull("v")) == Some(Seq(1L, 2L)))
  }

  test("end-to-end: ZORDER records (nulls, rows) for its stat " +
      "columns, IsNull reads fewer buckets, a merge RE-RECORDS the " +
      "touched bucket coherently, and results never change") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nullstats").toString + "/t"
    // range layout on k: v null exactly in the FIRST quarter of keys
    PartitionedUpsert.init(
      (1L to 100L).map(k =>
        (k, if (k <= 25L) None else Some(k * 10L))).toDF("k", "v"),
      dir, "k", 4, layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("v")): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.nullStats.nonEmpty, "zorder must record null stats")
    // every bucket records v with rows == its key span and the first
    // bucket carrying all 25 nulls
    val totals = m.nullStats.values.flatMap(_.get("v")).toSeq
    assert(totals.map(_._2).sum == 100L, s"rows must sum: $totals")
    assert(totals.map(_._1).sum == 25L, s"nulls must sum: $totals")
    def keptBuckets(filters: sources.Filter*): (Int, Int) =
      graft.GraftScans.keptBuckets(spark, dir, filters: _*)
    val (kept, total) = keptBuckets(sources.IsNull("v"))
    assert(kept < total, s"IsNull must prune no-null buckets: $kept/$total")
    val got = spark.read.format("graft").load(dir).filter($"v".isNull)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 25L).toSet)
    // merge a NULL into a previously no-null bucket: stale (0, n)
    // would prune the row away; the write-riding re-record must not
    PartitionedUpsert.merge(spark, dir,
      Seq(("u", 9L, 99L, None: Option[Long]))
        .toDF("__op", "__lsn", "k", "v"),
      "k", "__lsn", "__op", Seq("v"), 4): Unit
    val got2 = spark.read.format("graft").load(dir).filter($"v".isNull)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got2 == ((1L to 25L).toSet + 99L),
      "the merged null row must stay findable through IsNull pruning")
    val m2 = PartitionedUpsert.manifestOrFail(spark, dir)
    val touched = m2.nullStats.values.flatMap(_.get("v"))
      .filter(_._1 > 0L).toSeq
    assert(touched.map(_._1).sum == 26L, s"re-recorded nulls: $touched")
  }

  test("nullstats round-trip the manifest and follow evolution: " +
      "rename re-keys, drop removes; string stat columns record " +
      "through the same pass") {
    import spark.implicits._
    import graft.ops.cdc.Cdc
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nullstats_rt").toString + "/t"
    PartitionedUpsert.init(
      (1L to 40L).map(k =>
        (k, if (k % 2 == 0) null else s"name$k")).toDF("k", "s"),
      dir, "k", 2)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("s")): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.nullStats.values.flatMap(_.get("s")).map(_._1).sum == 20L)
    assert(m.nullStats.values.flatMap(_.get("s")).map(_._2).sum == 40L)
    PartitionedUpsert.evolveSchema(spark, dir,
      Seq(Cdc.RenameColumn("s", "txt")), "k", 2)
    val m1 = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m1.nullStats.values.forall(p =>
      p.contains("txt") && !p.contains("s")), s"rename: ${m1.nullStats}")
    PartitionedUpsert.evolveSchema(spark, dir,
      Seq(Cdc.DropColumn("txt")), "k", 2)
    assert(PartitionedUpsert.manifestOrFail(spark, dir).nullStats.isEmpty)
  }
}
