package graft.ops.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{ConfScope, SparkSpec}

/** Commit-conflict AUTO-REBASE (r16 verdict #4): two concurrent
  * merges from the same base both land when their touched buckets are
  * disjoint — the loser republishes as winner+1 without re-preparing;
  * a genuine overlap (or a shape change) still errors loudly. A
  * generated race property pins every pair of writers (merge, MOR
  * delete, compaction, ZORDER, ANALYZE) to one base and checks the
  * loser against a `Map` model. */
class ConflictRebaseSpec extends SparkSpec {
  import ConflictRebaseSpec._

  private def initTable(dir: String): Unit = {
    import spark.implicits._
    PartitionedUpsert.init(
      (1L to 40L).map(k => (k, k * 10L)).toDF("k", "v"), dir, "k", 4)
  }

  /** The table's own routing for a literal key (4 hash buckets). */
  private def bucketOf(k: Long): Long = {
    import spark.implicits._
    Seq(k).toDF("k")
      .select(PartitionedUpsert.bucketOf(col("k"), 4)).head().getLong(0)
  }

  private def changes(lsn: Long, k: Long, v: Long) = {
    import spark.implicits._
    Seq((lsn, k, "u", v)).toDF("lsn", "k", "op", "v")
  }

  private def state(dir: String): Map[Long, Long] =
    PartitionedUpsert.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("disjoint-bucket racers BOTH land: the loser auto-rebases as " +
      "winner+1, keeping the winner's data, its own rewrite, and its " +
      "txn cursor — no re-prepare") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase").toString
    initTable(dir)
    // two keys routing to DIFFERENT buckets
    val k1 = (1L to 40L).find(k => bucketOf(k) == 0L).get
    val k2 = (1L to 40L).find(k => bucketOf(k) == 1L).get
    val p1 = PartitionedUpsert.prepare(spark, dir, changes(100L, k1, 111L),
      "k", "lsn", "op", Seq("v"), 4)
    val p2 = PartitionedUpsert.prepare(spark, dir, changes(100L, k2, 222L),
      "k", "lsn", "op", Seq("v"), 4, txn = Some("racer2" -> 7L))
    PartitionedUpsert.commit(spark, dir, p1) // wins: v2
    PartitionedUpsert.commit(spark, dir, p2) // conflicts → rebases: v3
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.version == 3L)
    assert(m.txns.get("racer2").contains(7L),
      "the rebased commit must carry the loser's txn cursor")
    val st = state(dir)
    assert(st(k1) == 111L, "the winner's merge survives the rebase")
    assert(st(k2) == 222L, "the rebased merge lands")
    assert(st.size == 40, "no other key was disturbed")
  }

  test("SAME-BUCKET racers on DISJOINT KEYS both land (r19 key-level " +
      "rebase): the loser diffs both rewrites against the base, " +
      "proves the change-key sets disjoint, and composes the bucket") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_kb").toString
    initTable(dir)
    val k1 = (1L to 40L).find(k => bucketOf(k) == 2L).get
    val k2 = (k1 + 1L to 40L).find(k => bucketOf(k) == 2L).get // same bucket
    val p1 = PartitionedUpsert.prepare(spark, dir, changes(100L, k1, 111L),
      "k", "lsn", "op", Seq("v"), 4)
    val p2 = PartitionedUpsert.prepare(spark, dir, changes(100L, k2, 222L),
      "k", "lsn", "op", Seq("v"), 4, txn = Some("racer2" -> 9L))
    PartitionedUpsert.commit(spark, dir, p1)
    PartitionedUpsert.commit(spark, dir, p2) // key-level rebase: v3
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.version == 3L)
    assert(m.txns.get("racer2").contains(9L),
      "the composed commit must carry the loser's txn cursor")
    val st = state(dir)
    assert(st(k1) == 111L, "the winner's same-bucket change survives")
    assert(st(k2) == 222L, "the loser's change composes in")
    assert(st.size == 40, "no other key was disturbed")
  }

  test("SAME-KEY racers: the loser still gets the loud conflict " +
      "error, and its changes do NOT land (key-level rebase refuses " +
      "a genuine overlap)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_ov").toString
    initTable(dir)
    val k1 = (1L to 40L).find(k => bucketOf(k) == 2L).get
    val p1 = PartitionedUpsert.prepare(spark, dir, changes(100L, k1, 111L),
      "k", "lsn", "op", Seq("v"), 4)
    val p2 = PartitionedUpsert.prepare(spark, dir, changes(100L, k1, 222L),
      "k", "lsn", "op", Seq("v"), 4)
    PartitionedUpsert.commit(spark, dir, p1)
    val e = intercept[java.util.ConcurrentModificationException] {
      PartitionedUpsert.commit(spark, dir, p2)
    }
    assert(e.getMessage.contains("also changed bucket"))
    val st = state(dir)
    assert(st(k1) == 111L)
    assert(PartitionedUpsert.manifestOrFail(spark, dir).version == 2L,
      "the refused merge must not leak")
  }

  test("key-level rebase composes DELETES and INSERTS too: racer A " +
      "deletes one key while racer B inserts a new key routing to the " +
      "SAME bucket; both land, lsn ceiling is the max of both sides") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_di").toString
    initTable(dir)
    val kDel = (1L to 40L).find(k => bucketOf(k) == 1L).get
    val kIns = (41L to 400L).find(k => bucketOf(k) == 1L).get // new key
    val pDel = PartitionedUpsert.prepare(spark, dir,
      changes(100L, kDel, 0L).withColumn("op", lit("d")),
      "k", "lsn", "op", Seq("v"), 4)
    val pIns = PartitionedUpsert.prepare(spark, dir,
      changes(200L, kIns, 4444L), "k", "lsn", "op", Seq("v"), 4)
    PartitionedUpsert.commit(spark, dir, pDel)
    PartitionedUpsert.commit(spark, dir, pIns) // composes over the delete
    val st = state(dir)
    assert(!st.contains(kDel), "the winner's delete survives")
    assert(st(kIns) == 4444L, "the loser's insert composes in")
    assert(st.size == 40, "39 originals + 1 insert")
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    val b = bucketOf(kDel)
    assert(m.stats.get(b).flatMap(_.maxLsn).contains(200L),
      s"composed lsn ceiling is the max of both sides: ${m.stats.get(b)}")
  }

  test("a merging loser writing the base's own image, or deleting a " +
      "key the base lacks, still overlaps a winner that changed that " +
      "key: the loser refuses instead of letting the winner's change " +
      "survive it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_img").toString
    initTable(dir)
    val k1 = (1L to 40L).find(k => bucketOf(k) == 2L).get
    val kNew = (41L to 400L).find(k => bucketOf(k) == 2L).get
    val base = PartitionedUpsert.manifestOrFail(spark, dir)
    PartitionedUpsert.merge(spark, dir, changes(100L, k1, 111L)
      .unionByName(changes(100L, kNew, 222L)), "k", "lsn", "op", Seq("v"), 4): Unit
    val sameImage = changes(101L, k1, k1 * 10L)
    val absentDelete = changes(101L, kNew, 0L).withColumn("op", lit("d"))
    Seq(sameImage, absentDelete).foreach { batch =>
      intercept[java.util.ConcurrentModificationException] {
        PartitionedUpsert.mergeFrom(spark, dir, base, batch, "k", "lsn", "op",
          Seq("v"), 4, Seq.empty)
      }
    }
    assert(state(dir)(k1) == 111L && state(dir)(kNew) == 222L)
    assert(PartitionedUpsert.manifestOrFail(spark, dir).version == 2L)
  }

  test("a merging loser whose batch draws a fresh key on every " +
      "evaluation keeps every row it staged in a composed bucket, " +
      "although its batch names other keys when read again") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_rand").toString
    initTable(dir)
    val base = PartitionedUpsert.manifestOrFail(spark, dir)
    // the winner changes one key in every bucket: all of ours are contested
    val perBucket = (0L to 3L).map(b => (1L to 40L).find(k => bucketOf(k) == b).get)
    PartitionedUpsert.merge(spark, dir, perBucket.map(changes(100L, _, 111L))
      .reduce(_ unionByName _), "k", "lsn", "op", Seq("v"), 4): Unit
    // a key no replay reproduces, as from a source that cannot be
    // read twice
    val freshKey = udf(() => 1000L + (java.util.UUID.randomUUID()
      .getMostSignificantBits & 0xffffffffffffL)).asNondeterministic()
    val batch = spark.range(20).select(lit(101L).as("lsn"), freshKey().as("k"),
      lit("u").as("op"), lit(7777L).as("v"))
    PartitionedUpsert.mergeFrom(spark, dir, base, batch, "k", "lsn", "op",
      Seq("v"), 4, Seq("loser" -> 1L)): Unit
    val st = state(dir)
    assert(st.values.count(_ == 7777L) == 20, "every staged row survives")
    assert(perBucket.forall(st(_) == 111L) && st.size == 60)
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.version == 3L && m.txns.get("loser").contains(1L))
  }

  test("ANALYZE racing a rebucket asks for a rerun against the new " +
      "shape, chaining the lost race") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_an").toString
    initTable(dir)
    val base = PartitionedUpsert.manifestOrFail(spark, dir)
    PartitionedUpsert.rebucket(spark, dir, "k", 8)
    val e = intercept[java.util.ConcurrentModificationException] {
      PartitionedUpsert.analyzeColumnsFrom(spark, dir, base, Seq("v"))
    }
    assert(e.getMessage.contains("changed shape while ANALYZE scanned it"))
    assert(e.getCause.isInstanceOf[java.util.ConcurrentModificationException])
  }

  test("a SHAPE change between prepare and commit refuses the rebase: " +
      "a new CHECK constraint must re-validate the loser's rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_ck").toString
    initTable(dir)
    val k1 = (1L to 40L).find(k => bucketOf(k) == 0L).get
    val p = PartitionedUpsert.prepare(spark, dir, changes(100L, k1, -5L),
      "k", "lsn", "op", Seq("v"), 4)
    PartitionedUpsert.addCheckConstraint(spark, dir, "v_pos", "v > 0")
    val e = intercept[java.util.ConcurrentModificationException] {
      PartitionedUpsert.commit(spark, dir, p)
    }
    assert(e.getMessage.contains("CHECK constraints changed"))
    assert(state(dir)(k1) == k1 * 10L)
  }

  test("a prepared merge rebases over a deleteMor winner on OTHER " +
      "buckets (GDPR sweep racing ingest): tombstones AND the merge " +
      "both land; a same-bucket DIFFERENT-key tombstone composes via " +
      "the key-level rebase; a tombstone on the merge's own KEY refuses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_mor").toString
    initTable(dir)
    val kDel = (1L to 40L).find(k => bucketOf(k) == 3L).get
    val kUp = (1L to 40L).find(k => bucketOf(k) == 0L).get
    val p = PartitionedUpsert.prepare(spark, dir, changes(100L, kUp, 111L),
      "k", "lsn", "op", Seq("v"), 4)
    // the sweep wins the race: v2 adds a sidecar on bucket 3
    PartitionedUpsert.deleteMor(spark, dir, Seq(kDel).toDF("k"), "k"): Unit
    PartitionedUpsert.commit(spark, dir, p) // rebases: v3
    val st = state(dir)
    assert(!st.contains(kDel), "the tombstone survives the rebase")
    assert(st(kUp) == 111L, "the rebased merge lands")
    assert(PartitionedUpsert.manifestOrFail(spark, dir).version == 3L)
    // same bucket, DIFFERENT key: the sweep tombstones kUp while the
    // prepared merge updates kUp2 — the key-level rebase (r19) diffs
    // both sides against base, proves {kUp} ∩ {kUp2} = ∅, and
    // composes: the tombstone is physicalized into the composed file
    val kUp2 = (kUp + 1L to 40L).find(k => bucketOf(k) == 0L).get
    val p2 = PartitionedUpsert.prepare(spark, dir, changes(101L, kUp2, 222L),
      "k", "lsn", "op", Seq("v"), 4)
    PartitionedUpsert.deleteMor(spark, dir, Seq(kUp).toDF("k"), "k"): Unit
    PartitionedUpsert.commit(spark, dir, p2)
    val st2 = state(dir)
    assert(!st2.contains(kUp), "the sweep's tombstone survives the compose")
    assert(st2(kUp2) == 222L, "the merge's same-bucket change lands")
    assert(st2.size == st.size - 1, "only kUp was removed")
    // GENUINE overlap: a sweep deleting the very key the prepared
    // merge updates is a real conflict — the loud error stands
    val kUp3 = (kUp2 + 1L to 40L).find(k => bucketOf(k) == 0L).get
    val p3 = PartitionedUpsert.prepare(spark, dir, changes(102L, kUp3, 333L),
      "k", "lsn", "op", Seq("v"), 4)
    PartitionedUpsert.deleteMor(spark, dir, Seq(kUp3).toDF("k"), "k"): Unit
    val e = intercept[java.util.ConcurrentModificationException] {
      PartitionedUpsert.commit(spark, dir, p3)
    }
    assert(e.getMessage.contains("also changed bucket"))
    assert(!state(dir).contains(kUp3), "the refused merge must not leak")
  }

  test("CONCURRENT deleteMor and merge threads on disjoint buckets: " +
      "whichever loses the publish race rebases — both effects land, " +
      "every round, no conflict surfaces") {
    import spark.implicits._
    (1 to 3).foreach { round =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_rebase_thr$round").toString
      initTable(dir)
      val kDel = (1L to 40L).find(k => bucketOf(k) == 3L).get
      val kUp = (1L to 40L).find(k => bucketOf(k) == 1L).get
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val t1 = new Thread(() =>
        try PartitionedUpsert.deleteMor(spark, dir,
          Seq(kDel).toDF("k"), "k"): Unit
        catch { case t: Throwable => errs.add(t): Unit })
      val t2 = new Thread(() =>
        try PartitionedUpsert.merge(spark, dir, changes(100L, kUp, 111L),
          "k", "lsn", "op", Seq("v"), 4): Unit
        catch { case t: Throwable => errs.add(t): Unit })
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(errs.isEmpty,
        s"round $round: disjoint racers must both land, got " +
          errs.toArray.mkString("; "))
      val st = state(dir)
      assert(!st.contains(kDel), s"round $round: delete landed")
      assert(st(kUp) == 111L, s"round $round: merge landed")
    }
  }

  test("mergeWith still resolves a same-txn race as a replay no-op " +
      "(the rebase path must not break the exactly-once fast path)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rebase_txn").toString
    initTable(dir)
    val k1 = (1L to 40L).find(k => bucketOf(k) == 0L).get
    // racer A commits (app, 5); racer B prepared the SAME txn from the
    // same base — its commit must rethrow into mergeWith's replay check
    PartitionedUpsert.merge(spark, dir, changes(100L, k1, 111L),
      "k", "lsn", "op", Seq("v"), 4, txn = Some("app" -> 5L)): Unit
    val touched = PartitionedUpsert.merge(spark, dir,
      changes(100L, k1, 999L), "k", "lsn", "op", Seq("v"), 4,
      txn = Some("app" -> 5L))
    assert(touched.isEmpty, "replayed txn is a metadata no-op")
    assert(state(dir)(k1) == 111L)
  }

  test("MAINTENANCE auto-rebase (r18): an O(table) ZORDER racing a " +
      "merge that only created a NEW bucket — both land; racing a " +
      "merge on a bucket the rewrite touched still errors loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rebase_maint").toString
    // seed keys that AVOID bucket 3, so the zorder target excludes it
    val keys = (1L to 200L).filter(k => bucketOf(k) != 3L).take(30)
    PartitionedUpsert.init(keys.map(k => (k, k * 10L)).toDF("k", "v"),
      dir, "k", 4)
    val prior = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(!prior.buckets.contains(3L), "bucket 3 must start empty")
    // the racer wins: a merge creating bucket 3 (disjoint from every
    // bucket the zorder rewrite read)
    val kNew = (1L to 500L).find(k => bucketOf(k) == 3L).get
    PartitionedUpsert.merge(spark, dir, changes(100L, kNew, 999L),
      "k", "lsn", "op", Seq("v"), 4): Unit
    // the zorder computed from the STALE prior publishes via rebase
    val rewritten = PartitionedUpsert.optimizeZorderFrom(spark, dir,
      prior, Seq("v"), 8)
    assert(rewritten.nonEmpty, "the rewrite must land, not be discarded")
    val st = state(dir)
    assert(st(kNew) == 999L, "the winner's new-bucket merge survives")
    keys.foreach(k => assert(st(k) == k * 10L, s"key $k disturbed"))
    assert(st.size == keys.size + 1)
    // OVERLAP: a racer updating a key in a bucket the rewrite DID
    // touch refuses — merge survives, rewrite leaks nothing
    val prior2 = PartitionedUpsert.manifestOrFail(spark, dir)
    val kOld = keys.head
    PartitionedUpsert.merge(spark, dir, changes(101L, kOld, 111L),
      "k", "lsn", "op", Seq("v"), 4): Unit
    val vAfterMerge = PartitionedUpsert.manifestOrFail(spark, dir).version
    val e = intercept[java.util.ConcurrentModificationException] {
      PartitionedUpsert.optimizeZorderFrom(spark, dir, prior2,
        Seq("v"), 8)
    }
    assert(e.getMessage.contains("also changed bucket"), e.getMessage)
    assert(state(dir)(kOld) == 111L)
    assert(PartitionedUpsert.manifestOrFail(spark, dir).version
      == vAfterMerge, "the refused rewrite must not burn a version")
  }

  /** The table's router on the driver: xxhash64 (seed 42) mod 4. */
  private def routed(k: Long): Long = Math.floorMod(XXH64.hashLong(k, 42L), 4L)

  private val domain = 1L to 48L // 1-40 seeded, 41-48 new

  /** 1-3 keys, from the pair's hot bucket or from the whole domain. */
  private def genKeys(hot: Long): Gen[Seq[Long]] = for {
    one <- Gen.oneOf(true, false)
    n <- Gen.chooseNum(1, 3)
    ks <- Gen.pick(n, if (one) domain.filter(routed(_) == hot) else domain)
  } yield ks.toSeq

  private def genOp(hot: Long): Gen[Op] = Gen.frequency(
    (3, for {
      ks <- genKeys(hot)
      vs <- Gen.listOfN(ks.size, Gen.chooseNum(0L, 1000000L))
      ds <- Gen.listOfN(ks.size, Gen.chooseNum(0, 3))
    } yield {
      val del = ks.zip(ds).collect { case (k, 0) => k }.toSet
      Merge(ks.zip(vs).toMap -- del, del)
    }),
    (2, genKeys(hot).map(ks => MorDelete(ks.toSet))),
    (1, Gen.const(Compact)), (1, Gen.const(Zorder)), (2, Gen.const(Analyze)))

  /** Two writers whose keys often share a bucket. */
  private val genPair: Gen[(Op, Op)] = for {
    hot <- Gen.chooseNum(0L, 3L)
    w <- genOp(hot)
    l <- genOp(hot)
  } yield (w, l)

  private def applied(m: Map[Long, Long], op: Op): Map[Long, Long] = op match {
    case Merge(up, del) => m -- del ++ up
    case MorDelete(ks) => m -- ks
    case _ => m
  }

  /** Runs `op` pinned to `base`; true when it published its txn cursor. */
  private def run(op: Op, dir: String, base: PartitionedUpsert.Manifest,
                  app: String, i: Long): Boolean = {
    import spark.implicits._
    op match {
      case Merge(up, del) =>
        val lsn = if (app == "winner") 10 * i else 10 * i + 1
        val changes = (up.toSeq.map { case (k, v) => (lsn, k, "u", v) } ++
          del.toSeq.map(k => (lsn, k, "d", 0L))).toDF("lsn", "k", "op", "v")
        PartitionedUpsert.mergeFrom(spark, dir, base, changes, "k", "lsn", "op",
          Seq("v"), 4, Seq(app -> i)).nonEmpty
      case MorDelete(ks) => PartitionedUpsert.deleteMorFrom(spark, dir, base,
        ks.toSeq.toDF("k"), "k", Some(app -> i)).nonEmpty
      case Compact => PartitionedUpsert.compactFilesFrom(spark, dir, base, 1); false
      case Zorder => PartitionedUpsert.optimizeZorderFrom(spark, dir, base,
        Seq("v"), 8); false
      case Analyze => PartitionedUpsert.analyzeColumnsFrom(spark, dir, base,
        Seq("v")); false
    }
  }

  /** Runs the pairs in turn on one fresh table; returns (landed, refused). */
  private def race(pairs: Seq[(Op, Op)]): (Int, Int) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    val seed = (1L to 40L).map(k => k -> k * 10L)
    PartitionedUpsert.init(seed.toDF("k", "v").coalesce(1), dir, "k", 4)
    // buckets 0 and 1 rewritten from every shuffle partition (AQE off):
    // several files each, so compaction targets them and not 2 and 3
    ConfScope.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      PartitionedUpsert.merge(spark, dir, seed.filter(kv => routed(kv._1) < 2)
        .map { case (k, v) => (1L, k, "u", v) }.toDF("lsn", "k", "op", "v"),
        "k", "lsn", "op", Seq("v"), 4): Unit
    }
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var model = seed.toMap
    var (landed, refused) = (0, 0)
    pairs.zipWithIndex.foreach { case ((w, l), j) =>
      val i = j + 1L
      val what = s"pair $i: $w then $l"
      val base = PartitionedUpsert.manifestOrFail(spark, dir)
      val wCursor = run(w, dir, base, "winner", i)
      val wVersion = PartitionedUpsert.manifestOrFail(spark, dir).version
      val winnerOnly = applied(model, w)
      val lCursor =
        try Some(run(l, dir, base, "loser", i))
        catch { case _: java.util.ConcurrentModificationException => None }
      val head = PartitionedUpsert.manifestOrFail(spark, dir)
      model = lCursor.fold(winnerOnly)(_ => applied(winnerOnly, l))
      assert(state(dir) == model, what)
      if (wCursor) assert(head.txns.get("winner").contains(i), what)
      lCursor match {
        case Some(c) =>
          landed += 1
          if (c) assert(head.txns.get("loser").contains(i), what)
        case None =>
          refused += 1
          assert(head.version == wVersion, what)
      }
      (head.buckets.values ++ head.tombs.values.flatten.map(_.rel)).foreach { rel =>
        assert(fs.exists(new Path(PartitionedUpsert.resolveRel(dir, rel))),
          s"$what: missing $rel")
      }
      // recorded ranges stay sound: every value lies inside its bucket's
      model.groupBy(kv => routed(kv._1)).foreach { case (b, kvs) =>
        head.colStats.get(b).flatMap(_.get("v")).foreach { case (mn, mx) =>
          assert(kvs.values.forall(v => mn <= v && v <= mx), s"$what: bucket $b")
        }
      }
    }
    (landed, refused)
  }

  test("property: two writers pinned to one base, the winner published " +
      "first — the loser lands (winner-then-loser model, both cursors) " +
      "or refuses (winner-only model and version); no manifest " +
      "references a missing file") {
    var (landed, refused) = (0, 0)
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261018L)),
      Prop.forAllNoShrink(Gen.listOfN(3, genPair)) { pairs =>
        val (l, r) = race(pairs)
        landed += l; refused += r
        true
      })
    assert(result.passed, s"${result.status}")
    assert(landed > 0 && refused > 0, s"landed $landed, refused $refused")
  }
}

object ConflictRebaseSpec {
  /** One writer of the race property. */
  sealed trait Op
  final case class Merge(up: Map[Long, Long], del: Set[Long]) extends Op
  final case class MorDelete(keys: Set[Long]) extends Op
  case object Compact extends Op
  case object Zorder extends Op
  case object Analyze extends Op
}
