package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.ops.cdc.PartitionedUpsert
import graft.ops.cdc.PartitionedUpsert.Manifest

/** Truncated-string per-bucket stats (r19 — the Delta/Iceberg string
  * leg of secondary-column pruning): string entries store BOUNDS
  * (lo ≤ every value, hi ≥ every value), truncated at 32 code points
  * with the upper bound's last code point bumped, compared in
  * CODE-POINT order (== UTF8String byte order, the order Spark's
  * min/max on strings actually used — java String.compareTo disagrees
  * above U+FFFF and is never used). Tested pure (truncation algebra +
  * the pruner) and end-to-end (zorder records, merge re-records,
  * fewer buckets read, results unchanged). */
class StrStatsSpec extends SparkSpec {

  // ---- truncation algebra (pure) ----

  test("strCmp is code-point order: agrees with UTF8String binary " +
      "order where java String order disagrees (supplementary vs BMP)") {
    // U+1F600 (😀, supplementary) vs U+FFFD: UTF-8 bytes order the
    // supplementary char HIGHER; java UTF-16 units order it LOWER
    import org.apache.spark.unsafe.types.UTF8String
    val smiley = new String(Character.toChars(0x1F600))
    val fffd = "�"
    assert(PartitionedUpsert.strCmp(smiley, fffd) > 0)
    assert(smiley.compareTo(fffd) < 0, "the java order trap is real")
    assert(UTF8String.fromString(smiley)
      .compareTo(UTF8String.fromString(fffd)) > 0,
      "code-point order IS the engine's binary order")
    assert(PartitionedUpsert.strCmp("a", "ab") < 0)
    assert(PartitionedUpsert.strCmp("", "a") < 0)
    assert(PartitionedUpsert.strCmp("b", "b") == 0)
  }

  test("strTruncLo/strTruncHi: short strings pass verbatim; a long " +
      "string's lo is a prefix (≤ it) and hi bumps past EVERY " +
      "extension of the prefix; the surrogate gap is skipped; an " +
      "all-U+10FFFF prefix records nothing") {
    val short = "hello"
    assert(PartitionedUpsert.strTruncLo(short) == short)
    assert(PartitionedUpsert.strTruncHi(short).contains(short))
    val long = "a" * 31 + "m" + "z" * 40
    val lo = PartitionedUpsert.strTruncLo(long)
    assert(lo == "a" * 31 + "m" && PartitionedUpsert.strCmp(lo, long) <= 0)
    val hi = PartitionedUpsert.strTruncHi(long).get
    assert(hi == "a" * 31 + "n", s"bump the last code point: $hi")
    assert(PartitionedUpsert.strCmp(long, hi) < 0)
    // any extension of the 32-cp prefix stays under hi
    assert(PartitionedUpsert.strCmp("a" * 31 + "m" + "\uFFFF" * 5, hi) < 0)
    // surrogate gap: U+D7FF bumps to U+E000, never into D800-DFFF
    val gap = "x" * 31 + "\uD7FF" + "yyy"
    val gapHi = PartitionedUpsert.strTruncHi(gap).get
    assert(gapHi == "x" * 31 + "\uE000", "the bump skips the gap")
    // U+10FFFF cannot bump: the position drops and the previous bumps
    val maxCp = new String(Character.toChars(0x10FFFF))
    val nearMax = "q" * 31 + maxCp + "rest"
    assert(PartitionedUpsert.strTruncHi(nearMax).contains("q" * 30 + "r"))
    val allMax = maxCp * 33
    assert(PartitionedUpsert.strTruncHi(allMax).isEmpty,
      "nothing can bound an all-max prefix — record nothing")
  }

  // ---- pure pruner ----

  private def mkManifest(strStats: Map[Long, Map[String, (String, String)]])
      : Manifest =
    Manifest(version = 1L,
      schema = StructType(Seq(StructField("k", LongType),
        StructField("s", StringType))),
      nBuckets = 3, keyCol = "k", txns = Map.empty,
      buckets = Map(0L -> "data/s/bucket=0", 1L -> "data/s/bucket=1",
        2L -> "data/s/bucket=2"),
      strStats = strStats)

  test("pure pruner: equality/range/IN/startsWith on a string column " +
      "intersect the recorded bounds; missing entries keep; bounds " +
      "semantics never prune a value INSIDE [lo, hi]") {
    val m = mkManifest(Map(
      0L -> Map("s" -> ("apple", "cherry")),
      1L -> Map("s" -> ("melon", "peach"))
      // bucket 2: no entry — always kept
    ))
    def prune(f: sources.Filter*): Option[Seq[Long]] =
      GraftScanBuilder.pruneBuckets(m, f.toSeq, _ => Seq.empty)
    assert(prune(sources.EqualTo("s", "banana")) == Some(Seq(0L, 2L)))
    assert(prune(sources.EqualTo("s", "orange")) == Some(Seq(1L, 2L)))
    assert(prune(sources.EqualTo("s", "zzz")) == Some(Seq(2L)))
    assert(prune(sources.LessThan("s", "d")) == Some(Seq(0L, 2L)))
    assert(prune(sources.GreaterThanOrEqual("s", "melon"))
      == Some(Seq(1L, 2L)))
    assert(prune(sources.GreaterThan("s", "peach")) == Some(Seq(2L)))
    // "plum" > "peach": outside BOTH recorded bounds; "apple" keeps 0
    assert(prune(sources.In("s", Array("apple", "plum")))
      == Some(Seq(0L, 2L)))
    assert(prune(sources.In("s", Array("x", "y"))) == Some(Seq(2L)))
    assert(prune(sources.StringStartsWith("s", "che"))
      == Some(Seq(0L, 2L)))
    assert(prune(sources.StringStartsWith("s", "pe"))
      == Some(Seq(1L, 2L)))
    assert(prune(sources.StringStartsWith("s", "q")) == Some(Seq(2L)))
    // boundary values stay kept (bounds are inclusive)
    assert(prune(sources.EqualTo("s", "apple")) == Some(Seq(0L, 2L)))
    assert(prune(sources.EqualTo("s", "peach")) == Some(Seq(1L, 2L)))
    // a null literal contributes nothing
    assert(prune(sources.EqualTo("s", null)).isEmpty)
    // an IN with an un-convertible member contributes nothing
    assert(prune(sources.In("s", Array[Any]("apple", 7))).isEmpty)
  }

  test("pure pruner: a literal sharing the 32-cp prefix of a " +
      "truncated bound is KEPT — truncation widens, never narrows") {
    val longMax = "a" * 31 + "m" + "z" * 40
    val lo = PartitionedUpsert.strTruncLo("a" * 10)
    val hi = PartitionedUpsert.strTruncHi(longMax).get
    val m = mkManifest(Map(0L -> Map("s" -> (lo, hi))))
    def prune(f: sources.Filter*): Option[Seq[Long]] =
      GraftScanBuilder.pruneBuckets(m, f.toSeq, _ => Seq.empty)
    // the true max itself, and a sibling sharing its prefix, stay kept
    assert(prune(sources.EqualTo("s", longMax)).forall(_.contains(0L)))
    assert(prune(sources.EqualTo("s", "a" * 31 + "m" + "qqq"))
      .forall(_.contains(0L)))
    // an unpaired-surrogate literal contributes nothing (its UTF-8
    // encoding diverges from its code points — unsound to compare)
    assert(prune(sources.EqualTo("s", "ab\uD800cd")).isEmpty)
  }

  // ---- end-to-end ----

  test("end-to-end: ZORDER BY a string column records truncated " +
      "bounds, a string predicate reads FEWER buckets through the " +
      "DSv2 scan, results unchanged; merge RE-RECORDS the touched " +
      "bucket's entry covering the merged value") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_strstats").toString + "/t"
    // range layout on k; s = per-key city name, bucket-correlated
    val cities = Vector("amsterdam", "berlin", "chicago", "denver",
      "edinburgh", "florence", "geneva", "helsinki")
    val rows = (1L to 80L).map(k => (k, cities((k / 10L).toInt.min(7))))
    PartitionedUpsert.init(rows.toDF("k", "s"), dir, "k", 4,
      layout = PartitionedUpsert.LayoutRange)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("s")): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.strStats.nonEmpty && m.strStats.values.forall(_.contains("s")),
      s"zorder must record string bounds, got ${m.strStats}")
    def keptBuckets(filters: sources.Filter*): (Int, Int) =
      graft.GraftScans.keptBuckets(spark, dir, filters: _*)
    assert(keptBuckets() == ((4, 4)))
    val (kept, total) = keptBuckets(sources.EqualTo("s", "berlin"))
    assert(kept < total, s"expected fewer than $total buckets, got $kept")
    val got = spark.read.format("graft").load(dir)
      .filter($"s" === "berlin").select("k")
      .collect().map(_.getLong(0)).toSet
    assert(got == rows.filter(_._2 == "berlin").map(_._1).toSet)
    // merge a row whose s is far OUTSIDE its bucket's recorded bounds
    // — the merge must re-record bounds that cover it (write-riding
    // observe path at ≤64 buckets)
    PartitionedUpsert.merge(spark, dir,
      Seq(("u", 9L, 5L, "zurich")).toDF("__op", "__lsn", "k", "s"),
      "k", "__lsn", "__op", Seq("s"), 4): Unit
    val m2 = PartitionedUpsert.manifestOrFail(spark, dir)
    val entry = m2.strStats.get(0L).flatMap(_.get("s"))
    assert(entry.nonEmpty, s"touched bucket re-records: ${m2.strStats}")
    assert(PartitionedUpsert.strCmp(entry.get._1, "zurich") <= 0 &&
      PartitionedUpsert.strCmp("zurich", entry.get._2) <= 0,
      s"fresh bounds must cover the merged value: $entry")
    val found = spark.read.format("graft").load(dir)
      .filter($"s" >= "z").select("k").collect().map(_.getLong(0)).toSeq
    assert(found == Seq(5L), "the merged row is findable through stats")
    // untouched buckets keep their entries verbatim
    (m2.strStats - 0L).foreach { case (b, per) =>
      assert(per == m.strStats(b), s"bucket $b must be verbatim") }
  }

  test("bounds round-trip the manifest (base64 framing): multi-byte " +
      "and empty-string bounds survive write→read; rename re-keys " +
      "the entry and drop removes it") {
    import spark.implicits._
    import graft.ops.cdc.Cdc
    val dir = java.nio.file.Files
      .createTempDirectory("graft_strstats_rt").toString + "/t"
    val rows = Seq((1L, ""), (2L, "käse\tötag"), (3L, "日本語テキスト"),
      (4L, new String(Character.toChars(0x1F600))))
    PartitionedUpsert.init(rows.toDF("k", "s"), dir, "k", 2)
    PartitionedUpsert.optimizeZorder(spark, dir, Seq("s")): Unit
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.strStats.nonEmpty)
    // ground truth per bucket off the committed data itself
    val truth = spark.read.format("graft").load(dir)
      .withColumn("b", PartitionedUpsert.bucketOf(col("k"), 2))
      .groupBy($"b").agg(min($"s").as("mn"), max($"s").as("mx"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    m.strStats.foreach { case (b, per) =>
      val (lo, hi) = per("s")
      assert(PartitionedUpsert.strCmp(lo, truth(b)._1) <= 0 &&
        PartitionedUpsert.strCmp(truth(b)._2, hi) <= 0,
        s"bucket $b bounds $per must cover ${truth(b)}")
    }
    // rename re-keys, drop removes (the evolution rewrite)
    PartitionedUpsert.evolveSchema(spark, dir,
      Seq(Cdc.RenameColumn("s", "txt")), "k", 2)
    val m1 = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m1.strStats.values.forall(p =>
      p.contains("txt") && !p.contains("s")), s"rename re-keys: ${m1.strStats}")
    PartitionedUpsert.evolveSchema(spark, dir,
      Seq(Cdc.DropColumn("txt")), "k", 2)
    assert(PartitionedUpsert.manifestOrFail(spark, dir).strStats.isEmpty,
      "drop removes the entries")
  }
}
