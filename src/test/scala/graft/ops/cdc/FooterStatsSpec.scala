package graft.ops.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{ConfScope, SparkSpec}

/** Write-time stats read off the staged files' Parquet footers must
  * equal a reference aggregate over the committed data — the scan the
  * footer reader replaced: per bucket, files/bytes from a listing,
  * integral-key min/max, the `statLongExpr` image min/max of every
  * declared stats column, `strStatEntry` over the exact string
  * (min, max), and (nulls, rows). Generated tables and batches go
  * through ZORDER (which declares every face), MERGE (≤64 and >64
  * touched buckets), compaction, a full replace and a rebucket to
  * another bucket count, over byte, int, long, date,
  * timestamp, decimal(12,2) and string columns — strings multi-byte,
  * straddling the 32-code-point cap and past Parquet's 4 KB
  * statistics limit; all-NULL columns in some buckets; one bucket
  * emptied by deletes per batch. */
class FooterStatsSpec extends SparkSpec {
  import FooterStatsSpec._

  private val longCols = Seq("b", "i", "l", "d", "t", "m")
  private val valueCols = longCols :+ "s"

  /** The table's router, on the driver: xxhash64 (seed 42) mod n. */
  private def bucketOf(k: Long, n: Int): Long =
    Math.floorMod(XXH64.hashLong(k, 42L), n.toLong)

  private val genCp: Gen[Int] = Gen.frequency(
    (6, Gen.chooseNum(0x20, 0x7E)),
    (3, Gen.chooseNum(0x80, 0xD7FF)),
    (2, Gen.chooseNum(0xE000, 0xFFFD)),
    (2, Gen.chooseNum(0x10000, 0x10FFFF)))

  private def str(cps: Seq[Int]): String =
    cps.flatMap(Character.toChars(_).toSeq).mkString

  // short strings straddle the 32-code-point cap; long ones (≥ 6 KB)
  // pass Parquet's 4 KB statistics limit
  private val genStr: Gen[String] = Gen.frequency(
    (12, Gen.chooseNum(0, 48).flatMap(Gen.listOfN(_, genCp)).map(str)),
    (1, Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, genCp))
      .map(p => str(p) + "ü" * 3000)))

  private def opt[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency((1, Gen.const(None)), (6, g.map(Some(_))))

  /** Column j of value column list is all-NULL in buckets where
    * (bucket + j) % 5 == 0 — so every run has all-NULL buckets. */
  private def genRec(k: Long, n: Int): Gen[Rec] = for {
    b <- opt(Gen.chooseNum(-128, 127))
    i <- opt(Gen.chooseNum(Int.MinValue, Int.MaxValue))
    l <- opt(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    d <- opt(Gen.chooseNum(-25567, 47482)) // 1900 .. 2100
    t <- opt(Gen.chooseNum(-2208988800000000L, 4102444800000000L))
    m <- opt(Gen.chooseNum(-999999999999L, 999999999999L))
    s <- opt(genStr)
  } yield {
    val bk = bucketOf(k, n)
    def keep[A](j: Int, v: Option[A]): Option[A] =
      if ((bk + j) % 5 == 0) None else v
    Rec(k, keep(0, b), keep(1, i), keep(2, l), keep(3, d), keep(4, t),
      keep(5, m), keep(6, s))
  }

  /** `rows` initial keys; each batch upserts most existing keys plus
    * new ones and deletes a few. */
  private def genScenario(n: Int, rows: Int): Gen[Scenario] = {
    val keys = 0L until (rows * 5 / 4).toLong
    val genBatch = for {
      picks <- Gen.listOfN(keys.size, Gen.chooseNum(0, 99))
      up = keys.zip(picks).collect { case (k, p) if p < 85 => k }
      upserts <- Gen.sequence[List[Rec], Rec](up.map(genRec(_, n)))
      deletes <- Gen.pick(rows / 10, 0L until rows.toLong)
    } yield Batch(upserts, deletes.toSeq.filterNot(up.toSet))
    for {
      init <- Gen.sequence[List[Rec], Rec]((0L until rows).map(genRec(_, n)))
      batches <- Gen.listOfN(2, genBatch)
    } yield Scenario(init, batches)
  }

  private def frame(recs: Seq[Rec]): DataFrame = {
    import spark.implicits._
    recs.toDF().select($"k", $"b".cast(ByteType).as("b"), $"i", $"l",
      date_from_unix_date($"d").as("d"), timestamp_micros($"t").as("t"),
      ($"m".cast(DecimalType(14, 0)) / 100).cast(DecimalType(12, 2)).as("m"),
      $"s")
  }

  /** The reference: the deleted scan-based stats logic, one aggregate
    * per bucket over the committed (logical) data. */
  private def reference(dir: String, n: Int): Map[Long, Ref] = {
    val data = PartitionedUpsert.read(spark, dir)
    val dt = data.schema.map(f => f.name -> f.dataType).toMap
    val aggs = Seq(count(lit(1)), min(col("k")), max(col("k"))) ++
      longCols.flatMap { c =>
        val img = PartitionedUpsert.statLongExpr(col(c), dt(c))
        Seq(min(img), max(img))
      } ++ Seq(min(col("s")), max(col("s")),
        coalesce(max(octet_length(col("s"))), lit(0)).cast(LongType)) ++
      valueCols.map(c => count(when(col(c).isNull, 1)))
    data.groupBy(PartitionedUpsert.bucketOf(col("k"), n).as("bucket"))
      .agg(aggs.head, aggs.tail: _*).collect().map { r =>
        def pair[A](i: Int): Option[(A, A)] =
          if (r.isNullAt(i) || r.isNullAt(i + 1)) None
          else Some((r.getAs[A](i), r.getAs[A](i + 1)))
        val rows = r.getLong(1)
        val longs = longCols.zipWithIndex.flatMap { case (c, j) =>
          pair[Long](4 + 2 * j).map(c -> _) }.toMap
        val s = 4 + 2 * longCols.size
        r.getLong(0) -> Ref(rows, pair[Long](2), longs,
          pair[String](s).flatMap { case (mn, mx) =>
            PartitionedUpsert.strStatEntry(mn, mx) },
          valueCols.zipWithIndex.map { case (c, j) =>
            c -> ((r.getLong(s + 3 + j), rows)) }.toMap,
          r.getLong(s + 2))
      }.toMap
  }

  /** Every recorded entry equals the reference; returns the reference
    * for coverage checks. */
  private def check(dir: String, n: Int, step: String): Map[Long, Ref] = {
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    val ref = reference(dir, n)
    assert(m.buckets.keySet == ref.keySet, s"$step: populated buckets")
    assert(Seq(m.colStats, m.strStats, m.nullStats)
      .forall(_.keySet.subsetOf(m.buckets.keySet)), s"$step: stray entries")
    assert(m.colStats.values.flatMap(_.keys).toSet == longCols.toSet &&
      m.strStats.values.flatMap(_.keys).toSet == Set("s") &&
      m.nullStats.values.flatMap(_.keys).toSet == valueCols.toSet,
      s"$step: declared columns")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ref.foreach { case (b, r) =>
      val files = fs.listStatus(new Path(PartitionedUpsert.resolveRel(dir,
        m.buckets(b)))).filter(_.getPath.getName.endsWith(".parquet"))
      val st = m.stats(b)
      assert((st.files, st.bytes, st.minKey, st.maxKey) ==
        ((files.length, files.map(_.getLen).sum, r.key.map(_._1),
          r.key.map(_._2))), s"$step: bucket $b stats")
      longCols.foreach(c => assert(
        m.colStats.get(b).flatMap(_.get(c)) == r.longs.get(c),
        s"$step: bucket $b colStats $c"))
      assert(m.strStats.get(b).flatMap(_.get("s")) == r.str,
        s"$step: bucket $b strStats")
      valueCols.foreach(c => assert(
        m.nullStats.get(b).flatMap(_.get(c)) == r.nulls.get(c),
        s"$step: bucket $b nullStats $c"))
    }
    ref
  }

  private def runScenario(n: Int, sc: Scenario): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fs").toString + "/t"
    PartitionedUpsert.init(frame(sc.init).repartition(4), dir, "k", n)
    PartitionedUpsert.optimizeZorder(spark, dir, valueCols): Unit
    val refs = scala.collection.mutable.ArrayBuffer(check(dir, n, "zorder"))
    sc.batches.zipWithIndex.foreach { case (bt, i) =>
      // empty one populated bucket: delete every key it holds
      val live = PartitionedUpsert.read(spark, dir).select("k").as[Long]
        .collect().toSeq
      val victim = live.map(bucketOf(_, n)).max
      val gone = live.filter(bucketOf(_, n) == victim)
      val upserts = bt.upserts.filter(r => bucketOf(r.k, n) != victim)
      val changes = frame(upserts).withColumn("op", lit("u"))
        .unionByName(frame(bt.deletes.map(Rec(_, None, None, None, None,
          None, None, None)) ++ gone.map(Rec(_, None, None, None, None,
          None, None, None))).withColumn("op", lit("d")))
        .withColumn("lsn", lit(100L + i))
      // AQE off: the merge writes from every shuffle partition, so
      // touched buckets hold several files and compaction has work
      val touched = ConfScope.withConfs(spark,
        "spark.sql.adaptive.enabled" -> "false") {
        PartitionedUpsert.merge(spark, dir, changes, "k", "lsn", "op",
          valueCols, n)
      }
      if (n > 64) assert(touched.size > 64, s"touched ${touched.size}")
      else assert(touched.size <= 64)
      refs += check(dir, n, s"merge $i")
      assert(!PartitionedUpsert.manifestOrFail(spark, dir).buckets
        .contains(victim), s"bucket $victim must be emptied")
      if (i == 0) {
        assert(PartitionedUpsert.compactFiles(spark, dir, 1).nonEmpty)
        refs += check(dir, n, "compact")
      }
    }
    // new contents, then a new bucket count: both re-record the
    // declared columns off their own staged footers
    PartitionedUpsert.replace(frame(sc.batches.last.upserts).repartition(2), dir)
    refs += check(dir, n, "replace")
    val rebucketed = n / 2 + 1
    PartitionedUpsert.rebucket(spark, dir, "k", rebucketed)
    refs += check(dir, rebucketed, "rebucket")
    val all = refs.flatMap(_.values)
    assert(all.exists(r => r.nulls.values.exists(p => p._1 == p._2)),
      "no all-NULL (bucket, column) was generated")
    assert(all.exists(r => r.maxStrBytes > 4096 && r.str.nonEmpty),
      "no >4 KB string reached a recorded bound")
  }

  private def runProperty(n: Int, rows: Int, seed: Long): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2).withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)),
      Prop.forAllNoShrink(genScenario(n, rows)) { sc => runScenario(n, sc); true })
    assert(result.passed, s"${result.status}")
  }

  test("property: footer stats equal the reference aggregate through " +
      "ZORDER, MERGE (≤64 touched buckets) and compaction") {
    runProperty(8, 60, 20261018L)
  }

  test("property: footer stats equal the reference aggregate through " +
      "ZORDER, MERGE (>64 touched buckets) and compaction") {
    runProperty(72, 260, 20261019L)
  }

  test("legacy-format decimals (FIXED_LEN_BYTE_ARRAY footers) decode to " +
      "the same unscaled image as INT32/INT64 ones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_dec").toString + "/t"
    def dec(v: Long) = java.math.BigDecimal.valueOf(v, 2)
    val snap = (0L until 40L).map(k => (k, dec((k - 20) * 12345L), dec(k - 20)))
      .toDF("k", "m", "p")
      .select($"k", $"m".cast(DecimalType(12, 2)).as("m"),
        $"p".cast(DecimalType(5, 2)).as("p"))
    PartitionedUpsert.init(snap, dir, "k", 4)
    PartitionedUpsert.analyzeColumns(spark, dir, Seq("m", "p")): Unit
    ConfScope.withConfs(spark, "spark.sql.parquet.writeLegacyFormat" -> "true") {
      PartitionedUpsert.merge(spark, dir,
        snap.filter($"k" % 3 === 0).select(lit(1L).as("lsn"), lit("u").as("op"),
          $"k", ($"m" * -2).cast(DecimalType(12, 2)).as("m"), $"p"),
        "k", "lsn", "op", Seq("m", "p"), 4)
    }
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    val ref = PartitionedUpsert.read(spark, dir)
      .groupBy(PartitionedUpsert.bucketOf($"k", 4))
      .agg(min(PartitionedUpsert.statLongExpr($"m", DecimalType(12, 2))),
        max(PartitionedUpsert.statLongExpr($"m", DecimalType(12, 2))),
        min(PartitionedUpsert.statLongExpr($"p", DecimalType(5, 2))),
        max(PartitionedUpsert.statLongExpr($"p", DecimalType(5, 2))))
      .collect().map(r => r.getLong(0) -> Map(
        "m" -> ((r.getLong(1), r.getLong(2))), "p" -> ((r.getLong(3), r.getLong(4)))))
      .toMap
    assert(m.colStats == ref)
  }

  test("chunks the footer cannot describe record NO entry — INT96 " +
      "timestamps, legacy-rebased dates, nested null counts — and the " +
      "pruned reads stay correct") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_nd").toString + "/t"
    val rows = (0L until 40L).map(k => (k,
      if (k % 4 == 0) None else Some(java.sql.Timestamp.valueOf(
        s"2024-01-${"%02d".format(k % 28 + 1)} 10:00:00")),
      if (k % 4 == 0) None else Some(java.sql.Date.valueOf(
        s"2023-03-${"%02d".format(k % 28 + 1)}")),
      if (k % 3 == 0) None else Some((k.toInt, s"n$k")),
      k.toInt)).toDF("k", "t", "d", "st", "v")
    PartitionedUpsert.init(rows, dir, "k", 4)
    PartitionedUpsert.analyzeColumns(spark, dir, Seq("t", "d", "st", "v")): Unit
    val before = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(before.colStats.values.forall(e => e.contains("t") && e.contains("d")))
    assert(before.nullStats.values.forall(_.contains("st")))
    val touched = ConfScope.withConfs(spark,
      "spark.sql.parquet.outputTimestampType" -> "INT96",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY") {
      PartitionedUpsert.merge(spark, dir,
        Seq((1L, "u", 5L, Some(java.sql.Timestamp.valueOf("2030-06-01 00:00:00")),
          Some(java.sql.Date.valueOf("2031-07-01")), None: Option[(Int, String)], 5))
          .toDF("lsn", "op", "k", "t", "d", "st", "v"),
        "k", "lsn", "op", Seq("t", "d", "st", "v"), 4)
    }
    assert(touched.nonEmpty)
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    touched.foreach { b =>
      val cs = m.colStats.getOrElse(b, Map.empty)
      val ns = m.nullStats.getOrElse(b, Map.empty)
      assert(!cs.contains("t"), s"INT96 bucket $b must record no range: $cs")
      assert(!cs.contains("d"), s"legacy-rebased bucket $b: $cs")
      assert(cs.contains("v"), s"an int column still records: $cs")
      assert(!ns.contains("st"), s"nested null counts are not the column's: $ns")
      assert(ns.contains("v"))
    }
    (m.buckets.keySet -- touched).foreach(b =>
      assert(m.colStats(b).contains("t") && m.nullStats(b).contains("st")))
    val t = spark.read.format("graft").load(dir)
    val all = PartitionedUpsert.read(spark, dir)
    def same(f: org.apache.spark.sql.Column): Unit =
      assert(t.filter(f).select("k").as[Long].collect().sorted.toSeq ==
        all.filter(f).select("k").as[Long].collect().sorted.toSeq, s"$f")
    same($"t" >= java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
    same($"d" >= java.sql.Date.valueOf("2031-01-01"))
    same($"st".isNull)
    assert(t.filter($"t" >= java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
      .count() == 1)
  }
}

object FooterStatsSpec {
  /** One generated row; a None is a NULL. */
  final case class Rec(k: Long, b: Option[Int], i: Option[Int],
                       l: Option[Long], d: Option[Int], t: Option[Long],
                       m: Option[Long], s: Option[String])

  final case class Batch(upserts: Seq[Rec], deletes: Seq[Long])

  final case class Scenario(init: Seq[Rec], batches: Seq[Batch])

  /** One bucket's reference stats. */
  final case class Ref(rows: Long, key: Option[(Long, Long)],
                       longs: Map[String, (Long, Long)],
                       str: Option[(String, String)],
                       nulls: Map[String, (Long, Long)], maxStrBytes: Long)
}
