package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

import graft.SparkSpec
import graft.ops.cdc.PartitionedUpsert

/** DSv2 read path: format("graft") must equal the native read, prune
  * buckets from the manifest at planning time, surface pushed filters
  * in the plan, time-travel via versionAsOf, and stay a consistent
  * snapshot across post-load merges (the registerView contract). */
class GraftTableProviderSpec extends SparkSpec {

  private def freshTable(nBuckets: Int = 8): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2").toString
    val snap = (1L to 100L).map(k => (k, k * 10L, s"row$k"))
      .toDF("k", "v", "tag")
    PartitionedUpsert.init(snap, dir, "k", nBuckets = nBuckets)
    dir
  }

  test("format(\"graft\").load equals the native read; column pruning " +
      "reaches the inner parquet scan; PushedFilters visible in explain") {
    val dir = freshTable()
    val df = spark.read.format("graft").load(dir)
    assert(df.schema.fieldNames.toSet === Set("k", "v", "tag"))
    val native = PartitionedUpsert.read(spark, dir)
      .orderBy("k").collect().map(_.toString)
    assert(df.orderBy("k").collect().map(_.toString) === native)

    val q = df.filter(col("k") === 7L).select("v")
    assert(q.collect().map(_.getLong(0)) === Array(70L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("k"), plan)
  }

  test("point predicates prune buckets through the engine's own router " +
      "(pure pruner unit + end-to-end description)") {
    val dir = freshTable(nBuckets = 8)
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    // pure pruner: route injected, deterministic
    val kept = GraftScanBuilder.pruneBuckets(m,
      Seq(sources.EqualTo("k", 7L)), _ => Seq(3L))
    assert(kept === Some(Seq(3L)))
    val keptIn = GraftScanBuilder.pruneBuckets(m,
      Seq(sources.In("k", Array[Any](7L, 8L, null))), vs => vs.map(_ => 5L))
    assert(keptIn === Some(Seq(5L)))
    // non-key filter contributes nothing
    assert(GraftScanBuilder.pruneBuckets(m,
      Seq(sources.EqualTo("tag", "x")), _ => fail("must not route")) === None)
    // end to end: a point lookup plans a scan over one bucket
    val df = spark.read.format("graft").load(dir).filter(col("k") === 7L)
    assert(df.count() === 1)
    assert(graft.GraftScans.keptBuckets(df) === ((1, 8)))
  }

  test("range predicates intersect the manifest's per-bucket key stats") {
    val dir = freshTable()
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    // stats exist for an integral key: a bound beyond every maxKey
    // prunes every bucket; count survives (empty relation, not error)
    val hasStats = m.stats.values.exists(_.maxKey.isDefined)
    assert(hasStats, "expected write-time key stats on an integral key")
    val kept = GraftScanBuilder.pruneBuckets(m,
      Seq(sources.GreaterThan("k", 100000L)), _ => fail("no routing needed"))
    assert(kept === Some(Seq()))
    val none = spark.read.format("graft").load(dir)
      .filter(col("k") > 100000L)
    assert(none.count() === 0)
    // and a bound inside the range keeps the relevant buckets
    val some = spark.read.format("graft").load(dir).filter(col("k") > 90L)
    assert(some.count() === 10)
  }

  test("versionAsOf reads the pinned manifest; a load is a consistent " +
      "snapshot across a post-load merge (registerView contract)") {
    import spark.implicits._
    val dir = freshTable()
    PartitionedUpsert.registerView(spark, dir, "dsv2_view_v1")
    val v1 = spark.read.format("graft").load(dir) // pinned at load
    val v1Version = PartitionedUpsert.manifestOrFail(spark, dir).version

    // merge: update k=1, insert k=999
    val changes = Seq(("u", 1L, 1L, 111L, "upd"), ("u", 1L, 999L, 9990L, "new"))
      .toDF("__op", "__lsn", "k", "v", "tag")
    PartitionedUpsert.merge(spark, dir, changes, "k", "__lsn", "__op",
      Seq("v", "tag"), PartitionedUpsert.manifestOrFail(spark, dir).nBuckets)

    // the pre-merge load and the pre-merge view agree, unchanged
    val viewRows = spark.table("dsv2_view_v1").orderBy("k").collect().map(_.toString)
    assert(v1.orderBy("k").collect().map(_.toString) === viewRows)
    assert(v1.count() === 100)

    // a fresh load sees the merge; versionAsOf recovers the old state
    val v2 = spark.read.format("graft").load(dir)
    assert(v2.count() === 101)
    assert(v2.filter(col("k") === 1L).select("v").head().getLong(0) === 111L)
    val timeTravel = spark.read.format("graft")
      .option("versionAsOf", v1Version.toString).load(dir)
    assert(timeTravel.orderBy("k").collect().map(_.toString) === viewRows)
  }

  test("SQL DDL face: CREATE TABLE … USING graft LOCATION works and " +
      "serves plain SQL cross-statement") {
    val dir = freshTable()
    spark.sql("DROP TABLE IF EXISTS dsv2_sql_t")
    spark.sql(s"CREATE TABLE dsv2_sql_t USING graft LOCATION '$dir'")
    try {
      val n = spark.sql("SELECT COUNT(*) AS n FROM dsv2_sql_t").head().getLong(0)
      assert(n === 100)
      val v = spark.sql("SELECT v FROM dsv2_sql_t WHERE k = 42").head().getLong(0)
      assert(v === 420L)
    } finally spark.sql("DROP TABLE IF EXISTS dsv2_sql_t")
  }

  test("empty-file-set scan (all buckets pruned) and count(*)-style " +
      "zero-column projection both survive the V1 bridge") {
    val dir = freshTable()
    val df = spark.read.format("graft").load(dir)
    assert(df.filter(col("k") === -1L).count() === 0)
    assert(df.count() === 100) // zero-column pruned scan under count
  }

  test("bloomIndexDir option: secondary-column point lookups prune " +
      "buckets through the sidecar; results equal the unpruned read; " +
      "a version-drifted index is skipped, never trusted") {
    import graft.ops.cdc.BloomIndex
    import spark.implicits._
    val dir = freshTable(nBuckets = 16)
    val idx = java.nio.file.Files.createTempDirectory("graft_dsv2_bl").toString
    BloomIndex.build(spark, dir, idx, "tag")
    val plain = spark.read.format("graft").load(dir)
      .filter(col("tag") === "row7").collect().map(_.toString).toSeq
    val bloomed = spark.read.format("graft")
      .option("bloomIndexDir", idx).load(dir)
      .filter(col("tag") === "row7")
    assert(bloomed.collect().map(_.toString).toSeq === plain)
    assert(plain.length === 1)
    // the sidecar's candidates prune the executed scan's buckets
    assert(graft.GraftScans.keptBuckets(spark.read.format("graft").load(dir)
      .filter(col("tag") === "row7")) === ((16, 16)))
    assert(graft.GraftScans.keptBuckets(bloomed)._1 < 16)
    // a filter on a column the index does NOT cover: no pruning, same
    // results (the Try-discard path)
    val other = spark.read.format("graft")
      .option("bloomIndexDir", idx).load(dir).filter(col("v") === 70L)
    assert(other.count() === 1)
    // version drift: merge AFTER load — the pinned scan must skip the
    // bloom (current != pinned) and still read correctly
    val pinned = spark.read.format("graft")
      .option("bloomIndexDir", idx).load(dir)
    val ch = Seq(("u", 1L, 500L, 5000L, "row500"))
      .toDF("__op", "__lsn", "k", "v", "tag")
    PartitionedUpsert.merge(spark, dir, ch, "k", "__lsn", "__op",
      Seq("v", "tag"), 16)
    assert(pinned.filter(col("tag") === "row7").count() === 1)
  }

  test("readChangeFeed: row-level insert/update/delete records between " +
      "versions through the format API (Delta CDF option surface)") {
    import spark.implicits._
    val dir = freshTable()
    val v1 = PartitionedUpsert.manifestOrFail(spark, dir).version
    val changes = Seq(
      ("u", 1L, 1L, 111L, "upd"),      // update k=1
      ("u", 1L, 999L, 9990L, "new"),   // insert k=999
      ("d", 1L, 2L, 0L, ""))           // delete k=2
      .toDF("__op", "__lsn", "k", "v", "tag")
    PartitionedUpsert.merge(spark, dir, changes, "k", "__lsn", "__op",
      Seq("v", "tag"), 8)
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", v1.toString)
      .load(dir)
    assert(feed.schema.fieldNames.toSeq === Seq("k", "change_type", "v", "tag"))
    val got = feed.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "update"), (2L, "delete"), (999L, "insert")))
    // pruned projection still runs (column pruning path)
    assert(feed.select("change_type").collect().length === 3)
    // endingVersion pins the right edge: same-version feed is empty
    val empty = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", v1.toString)
      .option("endingVersion", v1.toString).load(dir)
    assert(empty.count() === 0)
    // missing startingVersion: specific error
    val e = intercept[Exception] {
      spark.read.format("graft").option("readChangeFeed", "true").load(dir)
    }
    assert(e.getMessage.contains("startingVersion"), e.getMessage)
  }

  test("INSERT INTO a graft catalog table upserts: new keys insert, " +
      "existing keys take the later lsn, SQL-only end to end") {
    val dir = freshTable()
    spark.sql("DROP TABLE IF EXISTS dsv2_ins_t")
    spark.sql(s"CREATE TABLE dsv2_ins_t USING graft LOCATION '$dir'")
    try {
      spark.sql("INSERT INTO dsv2_ins_t VALUES (1, 111, 'upd'), (777, 7770, 'new')")
      val got = spark.sql(
        "SELECT v, tag FROM dsv2_ins_t WHERE k IN (1, 777) ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got === Array((111L, "upd"), (7770L, "new")))
      assert(spark.sql("SELECT COUNT(*) FROM dsv2_ins_t").head.getLong(0) === 101)
      // a second INSERT for the same key wins again (lsn monotone)
      spark.sql("INSERT INTO dsv2_ins_t VALUES (777, 8880, 'newer')")
      assert(spark.sql("SELECT v FROM dsv2_ins_t WHERE k = 777")
        .head.getLong(0) === 8880L)
      // native read agrees — one table, two write faces
      assert(PartitionedUpsert.read(spark, dir)
        .filter(col("k") === 777L).head.getLong(1) === 8880L)
    } finally spark.sql("DROP TABLE IF EXISTS dsv2_ins_t")
  }

  test("INSERT guards: intra-statement duplicate key and NULL key " +
      "raise in the executor; INSERT OVERWRITE and writes to a " +
      "versionAsOf load are rejected") {
    import spark.implicits._
    val dir = freshTable()
    spark.sql("DROP TABLE IF EXISTS dsv2_ins_g")
    spark.sql(s"CREATE TABLE dsv2_ins_g USING graft LOCATION '$dir'")
    try {
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      val dup = intercept[Exception] {
        spark.sql("INSERT INTO dsv2_ins_g VALUES (5, 1, 'a'), (5, 2, 'b')")
      }
      assert(msgs(dup).exists(m => m != null && m.contains("multiple rows")))
      val nul = intercept[Exception] {
        spark.sql("INSERT INTO dsv2_ins_g VALUES (CAST(NULL AS BIGINT), 1, 'a')")
      }
      // non-nullable key: Spark's own runtime null assertion fires
      // first; the writer's guard is the backstop for NULLABLE-key
      // tables (both are executor-raised, either message proves the
      // row never reached the table)
      assert(msgs(nul).exists(m => m != null &&
        (m.contains("NULL table key") || m.contains("NOT_NULL"))))
      // failed statements must not have moved the table
      assert(spark.sql("SELECT COUNT(*) FROM dsv2_ins_g").head.getLong(0) === 100)
      // INSERT OVERWRITE (r16) = ATOMIC whole-table replace via
      // PartitionedUpsert.replace — one manifest swap, old version
      // still time-travelable, same dup/null key guards as append
      val vPre = PartitionedUpsert.manifestOrFail(spark, dir).version
      spark.sql(
        "INSERT OVERWRITE dsv2_ins_g VALUES (5, 1, 'a'), (6, 2, 'b')")
      assert(spark.sql("SELECT COUNT(*) FROM dsv2_ins_g").head.getLong(0) === 2)
      assert(spark.sql("SELECT v FROM dsv2_ins_g WHERE k = 5").head.getLong(0) === 1L)
      assert(PartitionedUpsert.manifestOrFail(spark, dir).version === vPre + 1)
      assert(PartitionedUpsert.readVersion(spark, dir, vPre).count() === 100)
      val ovwDup = intercept[Exception] {
        spark.sql("INSERT OVERWRITE dsv2_ins_g VALUES (5, 1, 'a'), (5, 2, 'b')")
      }
      assert(msgs(ovwDup).exists(m => m != null && m.contains("multiple rows")))
      // the failed overwrite moved nothing
      assert(spark.sql("SELECT COUNT(*) FROM dsv2_ins_g").head.getLong(0) === 2)
      // versionAsOf load is read-only
      val v = PartitionedUpsert.manifestOrFail(spark, dir).version
      val ro = intercept[Exception] {
        Seq((999L, 1L, "x")).toDF("k", "v", "tag").write.format("graft")
          .option("versionAsOf", v.toString).mode("append").save(dir)
      }
      assert(msgs(ro).exists(m => m != null && m.contains("read-only")))
    } finally spark.sql("DROP TABLE IF EXISTS dsv2_ins_g")
  }
}
