package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.ops.cdc.PartitionedUpsert
import graft.ops.cdc.PartitionedUpsert.Manifest

/** Secondary-column per-bucket min/max pruning (r18, r17 verdict #5):
  * the ZORDER rewrite records per-bucket [min,max] for its integral
  * columns in the manifest, GraftScanBuilder prunes non-key range
  * predicates against them, and every value-changing rewrite of a
  * bucket invalidates its entries — tested pure (the pruner) and
  * end-to-end (fewer buckets read, results unchanged). */
class ColStatsSpec extends SparkSpec {

  private def mkManifest(colStats: Map[Long, Map[String, (Long, Long)]])
      : Manifest =
    Manifest(version = 1L,
      schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType), StructField("d", DoubleType))),
      nBuckets = 3, keyCol = "k", txns = Map.empty,
      buckets = Map(0L -> "data/s/bucket=0", 1L -> "data/s/bucket=1",
        2L -> "data/s/bucket=2"),
      colStats = colStats)

  test("pure pruner: non-key range/equality/IN predicates intersect " +
      "the recorded ranges; missing entries keep; non-integral " +
      "columns contribute nothing") {
    val m = mkManifest(Map(
      0L -> Map("v" -> (0L, 99L)),
      1L -> Map("v" -> (100L, 199L))
      // bucket 2: no entry — must always be kept
    ))
    def prune(f: sources.Filter*): Option[Seq[Long]] =
      GraftScanBuilder.pruneBuckets(m, f.toSeq, _ => Seq.empty)
    assert(prune(sources.LessThan("v", 100L)) == Some(Seq(0L, 2L)))
    assert(prune(sources.GreaterThanOrEqual("v", 100L)) == Some(Seq(1L, 2L)))
    assert(prune(sources.EqualTo("v", 150L)) == Some(Seq(1L, 2L)))
    assert(prune(sources.In("v", Array(5L, 7L))) == Some(Seq(0L, 2L)))
    // a value in NO recorded range keeps only the entry-less bucket
    assert(prune(sources.EqualTo("v", 500L)) == Some(Seq(2L)))
    // conjuncts intersect
    assert(prune(sources.GreaterThan("v", 50L),
      sources.LessThan("v", 60L)) == Some(Seq(0L, 2L)))
    // a DOUBLE column never prunes (long-cast truncation could drop a
    // matching bucket — the soundness gate)
    assert(prune(sources.LessThan("d", 1.0)).isEmpty)
    // an IN with an un-longable value contributes nothing
    assert(prune(sources.In("v", Array[Any](5L, "x"))).isEmpty)
  }

  test("end-to-end: ZORDER records the ranges, a non-key range " +
      "predicate reads FEWER buckets through the DSv2 scan, and the " +
      "filtered result equals the unpruned read (range layout makes " +
      "the non-key column bucket-correlated)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_colstats").toString + "/t"
    // range layout on k, v = 10*k: buckets hold key ranges, so v
    // ranges are tight per bucket — the layout where inter-file
    // skipping on a non-key column has something to skip
    PartitionedUpsert.init(
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v"),
      dir, "k", 4, layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("v")): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.colStats.nonEmpty, "zorder must record the ranges")
    assert(m.colStats.values.forall(_.contains("v")))
    // the executed file scan's index reports its bucket pruning as
    // buckets=<kept>/<total> for the scan's own data filters
    def keptBuckets(filters: sources.Filter*): (Int, Int) =
      graft.GraftScans.keptBuckets(spark, dir, filters: _*)
    assert(keptBuckets() == (4, 4))
    val (kept, total) = keptBuckets(sources.LessThanOrEqual("v", 200L))
    assert(kept < total, s"expected fewer than $total buckets, got $kept")
    val pruned = spark.read.format("graft").load(dir).filter($"v" <= 200L)
    // results unchanged by pruning (the oracle-hashes-unchanged check)
    val expect = (1L to 20L).map(k => (k, k * 10L)).toSet
    assert(pruned.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
  }

  test("merge-write refresh (r19): a merge touching a bucket " +
      "RE-RECORDS its entries off the staged rewrite — hot tables " +
      "keep secondary pruning between OPTIMIZE runs, and the fresh " +
      "range covers the merged values") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_colstats_inv").toString + "/t"
    PartitionedUpsert.init(
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v"),
      dir, "k", 4, layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("v")): Unit
    val before = PartitionedUpsert.manifestOrFail(spark, dir).colStats
    assert(before.size == 4)
    // merge a key in the LAST bucket with a v far OUTSIDE its
    // recorded range — the stale entry would prune the row away; the
    // merge must re-record a range that covers it (r18 dropped here
    // and lost pruning until the next OPTIMIZE)
    PartitionedUpsert.merge(spark, dir,
      Seq(("u", 9L, 99L, 5L)).toDF("__op", "__lsn", "k", "v"),
      "k", "__lsn", "__op", Seq("v"), 4): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    val touchedBucket = 3L // k=99 in the top key range of 4 splits
    val fresh = m.colStats.get(touchedBucket).flatMap(_.get("v"))
    assert(fresh.nonEmpty,
      s"touched bucket must carry FRESH entries, got ${m.colStats.keySet}")
    assert(fresh.get._1 <= 5L && 5L <= fresh.get._2,
      s"fresh range must cover the merged value: $fresh")
    assert(m.colStats.size == 4, "untouched buckets keep theirs")
    (m.colStats - touchedBucket).foreach { case (b, per) =>
      assert(per == before(b), s"bucket $b entries must be verbatim") }
    // the out-of-range row IS found by a predicate its bucket's OLD
    // range would have pruned — AND the fresh stats still prune: a
    // predicate outside every recorded range now keeps zero buckets
    val got = spark.read.format("graft").load(dir).filter($"v" <= 5L)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((99L, 5L)))
    val desc = graft.GraftScans.keptBuckets(spark, dir,
      sources.LessThan("v", 5L))
    assert(desc._2 == 4 && desc._1 == 0,
      s"fresh ranges must prune v<5 to zero buckets: $desc")
    // COMPACTION also re-records (r18): a WIDE merge into the top
    // bucket (keys above the last range split all route there)
    // spreads its rewrite across shuffle partitions — fragmenting the
    // bucket — then OPTIMIZE re-records the declared column with the
    // merged rows' NEW range, keeping them findable
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      // AQE coalesces this tiny rewrite to one partition = one file;
      // real merges at scale write a bucket from many tasks — force
      // that shape so the bucket actually fragments
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      PartitionedUpsert.merge(spark, dir,
        (200L to 219L).map(k => ("u", 10L + k, k, 4L))
          .toDF("__op", "__lsn", "k", "v").repartition(4),
        "k", "__lsn", "__op", Seq("v"), 4): Unit
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val compacted = PartitionedUpsert.compactFiles(spark, dir,
      maxFilesPerBucket = 1)
    assert(compacted.contains(touchedBucket), s"got $compacted")
    val m2 = PartitionedUpsert.manifestOrFail(spark, dir)
    val entry = m2.colStats.get(touchedBucket).flatMap(_.get("v"))
    assert(entry.nonEmpty, "OPTIMIZE must re-record the declared column")
    assert(entry.get._1 <= 4L, s"refreshed range must cover the 4s: $entry")
    assert(spark.read.format("graft").load(dir).filter($"v" <= 5L)
      .count() == 21L) // the k=99 row + the 20 merged ones
  }

  test("pure pruner: DATE, TIMESTAMP and short-DECIMAL literals " +
      "convert through the column's long image (r19); both java.sql " +
      "and java.time external shapes; inexact decimals contribute " +
      "nothing") {
    import org.apache.spark.sql.types._
    val m = Manifest(version = 1L,
      schema = StructType(Seq(StructField("k", LongType),
        StructField("d", DateType), StructField("t", TimestampType),
        StructField("amt", DecimalType(12, 2)),
        StructField("big", DecimalType(22, 2)))),
      nBuckets = 2, keyCol = "k", txns = Map.empty,
      buckets = Map(0L -> "data/s/bucket=0", 1L -> "data/s/bucket=1"),
      colStats = Map(
        // d: bucket 0 = 2023, bucket 1 = 2024 (days since epoch)
        0L -> Map("d" -> (java.time.LocalDate.of(2023, 1, 1).toEpochDay,
                          java.time.LocalDate.of(2023, 12, 31).toEpochDay),
          "t" -> (0L, 86400L * 1000000L), // first day of 1970, micros
          "amt" -> (1000L, 9999L)), // 10.00 .. 99.99 at scale 2
        1L -> Map("d" -> (java.time.LocalDate.of(2024, 1, 1).toEpochDay,
                          java.time.LocalDate.of(2024, 12, 31).toEpochDay))))
    def prune(f: sources.Filter*): Option[Seq[Long]] =
      GraftScanBuilder.pruneBuckets(m, f.toSeq, _ => Seq.empty)
    // java.time.LocalDate external (java8API on)
    assert(prune(sources.GreaterThanOrEqual("d",
      java.time.LocalDate.of(2024, 1, 1))) == Some(Seq(1L)))
    // java.sql.Date external (java8API off) — same days image
    assert(prune(sources.LessThan("d",
      java.sql.Date.valueOf("2024-01-01"))) == Some(Seq(0L)))
    // timestamp: only bucket 0 records t; bucket 1 has no entry → kept
    assert(prune(sources.GreaterThan("t",
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(200000L))))
      == Some(Seq(1L)))
    assert(prune(sources.LessThanOrEqual("t",
      java.time.Instant.ofEpochSecond(10L))) == Some(Seq(0L, 1L)))
    // decimal: 50.00 inside bucket 0's [10.00, 99.99]
    assert(prune(sources.EqualTo("amt",
      new java.math.BigDecimal("50.00"))) == Some(Seq(0L, 1L)))
    assert(prune(sources.GreaterThan("amt",
      new java.math.BigDecimal("100"))) == Some(Seq(1L)))
    // an inexact rescale (5.005 against scale 2) contributes nothing
    assert(prune(sources.EqualTo("amt",
      new java.math.BigDecimal("5.005"))).isEmpty)
    // precision > 18 is outside the stats gate entirely
    assert(prune(sources.EqualTo("big",
      new java.math.BigDecimal("5.00"))).isEmpty)
  }

  test("end-to-end DATE: ZORDER BY a date column records ranges " +
      "(the raw-cast zorder path used to fail on dates), a date " +
      "range predicate prunes buckets, results unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_colstats_date").toString + "/t"
    val rows = (1L to 100L).map(k =>
      (k, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(k - 1))))
    PartitionedUpsert.init(rows.toDF("k", "d"), dir, "k", 4,
      layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("d")): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.colStats.nonEmpty && m.colStats.values.forall(_.contains("d")))
    val kept = graft.GraftScans.keptBuckets(spark, dir,
      sources.LessThanOrEqual("d", java.sql.Date.valueOf("2024-01-20")))
    assert(kept._1 < kept._2, s"date range must prune: $kept")
    val got = spark.read.format("graft").load(dir)
      .filter($"d" <= lit(java.sql.Date.valueOf("2024-01-20")))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 20L).toSet)
  }

  test("end-to-end DECIMAL: merge-write records unscaled-image " +
      "ranges for a tracked decimal column; a fractional predicate " +
      "prunes exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_colstats_dec").toString + "/t"
    val df = (1L to 100L).toDF("k")
      .withColumn("amt", (col("k") * lit(new java.math.BigDecimal("1.50")))
        .cast(org.apache.spark.sql.types.DecimalType(12, 2)))
    PartitionedUpsert.init(df, dir, "k", 4,
      layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("amt")): Unit
    // a merge into the FIRST bucket must re-record amt off the staged
    // rewrite at the same unscaled image the pruner converts to
    PartitionedUpsert.merge(spark, dir,
      Seq(("u", 9L, 1L, new java.math.BigDecimal("0.75")))
        .toDF("__op", "__lsn", "k", "amt")
        .withColumn("amt", col("amt")
          .cast(org.apache.spark.sql.types.DecimalType(12, 2))),
      "k", "__lsn", "__op", Seq("amt"), 4): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.colStats.values.forall(_.contains("amt")))
    val kept = graft.GraftScans.keptBuckets(spark, dir,
      sources.LessThan("amt", new java.math.BigDecimal("1.00")))
    assert(kept == ((1, 4)), s"only the merged bucket holds amt<1: $kept")
    val got = spark.read.format("graft").load(dir)
      .filter($"amt" < lit(new java.math.BigDecimal("1.00")))
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("widen image gate: int→long keeps recorded entries, a decimal " +
      "SCALE widen drops them (the unscaled image multiplies)") {
    import spark.implicits._
    import graft.ops.cdc.Cdc
    import org.apache.spark.sql.types._
    assert(PartitionedUpsert.statImagePreserved(IntegerType, LongType))
    assert(PartitionedUpsert.statImagePreserved(
      DecimalType(10, 2), DecimalType(14, 2)))
    assert(!PartitionedUpsert.statImagePreserved(
      DecimalType(10, 2), DecimalType(14, 4)))
    assert(!PartitionedUpsert.statImagePreserved(
      DecimalType(10, 2), DecimalType(22, 2))) // past the p≤18 gate
    assert(!PartitionedUpsert.statImagePreserved(DateType, TimestampType))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_colstats_widen").toString + "/t"
    val df = (1L to 40L).toDF("k")
      .withColumn("v", col("k").cast(IntegerType))
      .withColumn("amt", (col("k") * lit(new java.math.BigDecimal("1.25")))
        .cast(DecimalType(10, 2)))
    PartitionedUpsert.init(df, dir, "k", 2,
      layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("v", "amt")): Unit
    assert(PartitionedUpsert.manifestOrFail(spark, dir)
      .colStats.values.forall(p => p.contains("v") && p.contains("amt")))
    // int→long: image is the value — entries survive the rewrite
    PartitionedUpsert.evolveSchema(spark, dir,
      Seq(Cdc.WidenColumn("v", LongType)), "k", 2)
    val m1 = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m1.colStats.values.forall(_.contains("v")),
      "int→long widen must keep the recorded image")
    // decimal scale widen: unscaled image multiplies — entries drop
    PartitionedUpsert.evolveSchema(spark, dir,
      Seq(Cdc.WidenColumn("amt", DecimalType(14, 4))), "k", 2)
    val m2 = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m2.colStats.values.forall(!_.contains("amt")),
      s"scale widen must drop stale images, got ${m2.colStats}")
    assert(m2.colStats.values.forall(_.contains("v")), "v unaffected")
  }
}
