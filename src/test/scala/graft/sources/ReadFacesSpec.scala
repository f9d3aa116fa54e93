package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.ops.cdc.{BloomIndex, Cdc, PartitionedUpsert}

/** Every read face of a graft table answers like an in-memory model of
  * its rows: generated tables in hash and range layout go through two
  * merges, a compaction, `ADD COLUMN … DEFAULT` (pre-add buckets read
  * the default), and a merge-on-read DELETE (tombstones), and are then
  * read by session-catalog name, by `format("graft").load(dir)`, by
  * `versionAsOf` and `timestampAsOf`, by a [[GraftCatalog]] name (also
  * `VERSION AS OF`) and through a `bloomIndexDir` sidecar, under key
  * equality, IN, key-range and secondary-column predicates. Each result
  * must equal `PartitionedUpsert.read`, which must equal the model,
  * filtered in memory. Finally `INSERT INTO t SELECT * FROM t` must
  * leave the rows unchanged. The hash table lists its key second, so a
  * face that pairs columns by position rather than by name (a USING
  * anti-join lists its key first) reads values under the wrong names. */
class ReadFacesSpec extends SparkSpec {
  import ReadFacesSpec._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_faces_wh").toString
    spark.conf.set("spark.sql.catalog.gfaces", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfaces.warehouse", dir)
    dir
  }

  private val words = Vector("amber", "birch", "cedar", "delta", "ember",
    "fjord", "grove", "heath")

  private def genRec(k: Long, tier: Gen[Option[Long]]): Gen[Rec] = for {
    v <- Gen.chooseNum(0L, 999L)
    s <- Gen.oneOf(words)
    t <- tier
  } yield Rec(k, v, s, t)

  private def genScenario(layout: String, keyFirst: Boolean): Gen[Scenario] = for {
    n <- Gen.oneOf(6, 8)
    rows <- Gen.chooseNum(60, 100)
    init <- Gen.sequence[List[Rec], Rec](
      (1L to rows.toLong).map(genRec(_, Gen.const(None))))
    up1 <- Gen.pick(20, 1L to rows.toLong)
    b1 <- Gen.sequence[List[Rec], Rec](
      (up1.toSeq ++ (rows + 1L to rows + 10L)).map(genRec(_, Gen.const(None))))
    d1 <- Gen.pick(5, (1L to rows.toLong).filterNot(up1.toSet))
    // few keys, so most buckets stay as written before the ADD and
    // keep reading the default
    up2 <- Gen.pick(3, (1L to rows + 10L).filterNot(d1.toSet))
    b2 <- Gen.sequence[List[Rec], Rec](
      (up2.toSeq :+ (rows + 11L)).map(genRec(_,
        Gen.frequency((3, Gen.chooseNum(0L, 9L).map(Some(_))),
          (1, Gen.const(None))))))
    mor <- Gen.pick(6, (1L to rows + 11L).filterNot(d1.toSet))
  } yield Scenario(layout, keyFirst, n, init, b1, d1.toSeq, b2, mor.toSeq)

  private def schema(sc: Scenario, withTier: Boolean): StructType = {
    val (k, v) = (StructField("k", LongType), StructField("v", LongType))
    StructType((if (sc.keyFirst) Seq(k, v) else Seq(v, k)) ++
      Seq(StructField("s", StringType)) ++
      (if (withTier) Seq(StructField("tier", LongType)) else Nil))
  }

  private def frame(rows: Seq[Row], st: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, st)

  private def row(sc: Scenario, r: Rec, withTier: Boolean): Seq[Any] =
    (if (sc.keyFirst) Seq(r.k, r.v) else Seq(r.v, r.k)) ++ Seq(r.s) ++
      (if (withTier) Seq(r.tier.map(Long.box).orNull) else Nil)

  private def merge(dir: String, sc: Scenario, ups: Seq[Rec], dels: Seq[Long],
                    lsn: Long, withTier: Boolean): Unit = {
    val cols = schema(sc, withTier)
    val st = StructType(StructField("__op", StringType) +:
      StructField("__lsn", LongType) +: cols.fields.toSeq)
    val rows = ups.map(r => Row.fromSeq(Seq("u", lsn) ++ row(sc, r, withTier))) ++
      dels.map(k => Row.fromSeq(Seq("d", lsn) ++
        cols.fieldNames.toSeq.map(c => if (c == "k") k else null)))
    PartitionedUpsert.merge(spark, dir, frame(rows, st), "k", "__lsn", "__op",
      cols.fieldNames.toSeq.filterNot(_ == "k"), sc.n): Unit
  }

  private def recsOf(df: DataFrame): Set[Rec] = {
    val tier = df.schema.fieldNames.contains("tier")
    df.collect().map(r => Rec(r.getAs[Long]("k"), r.getAs[Long]("v"),
      r.getAs[String]("s"),
      if (tier) Option(r.getAs[java.lang.Long]("tier")).map(_.toLong)
      else None)).toSet
  }

  /** Key equality (live, tombstoned, absent), IN, key range and
    * secondary-column predicates drawn from the model. */
  private def preds(model: Map[Long, Rec], sc: Scenario,
                    withTier: Boolean): Seq[Pred] = {
    val keys = model.keys.toSeq.sorted
    val live = keys(keys.size / 3)
    val gone = sc.mor.head
    val absent = keys.last + 1000L
    val (lo, hi) = (keys(keys.size / 4), keys(keys.size / 2))
    val word = model(live).s
    val vCut = model.values.map(_.v).toSeq.sorted.apply(model.size / 3)
    Seq(
      Pred(s"k = $live", col("k") === live, _.k == live),
      Pred(s"k = $gone (tombstoned)", col("k") === gone, _.k == gone),
      Pred(s"k = $absent", col("k") === absent, _.k == absent),
      Pred(s"k IN ($live, $gone, $absent)",
        col("k").isin(live, gone, absent), r => Set(live, gone, absent)(r.k)),
      Pred(s"k BETWEEN $lo AND $hi", col("k").between(lo, hi),
        r => lo <= r.k && r.k <= hi),
      Pred(s"v < $vCut", col("v") < vCut, _.v < vCut),
      Pred(s"s = '$word'", col("s") === word, _.s == word)) ++
      (if (!withTier) Nil else Seq(
        Pred("tier = 7", col("tier") === 7L, _.tier.contains(7L)),
        Pred("tier IS NULL", col("tier").isNull, _.tier.isEmpty)))
  }

  private def check(face: String, df: DataFrame, model: Map[Long, Rec],
                    ps: Seq[Pred]): Unit = ps.foreach { p =>
    val got = recsOf(df.where(p.col))
    val want = model.values.filter(p.keep).toSet
    assert(got == want, s"$face WHERE ${p.name}: got ${got -- want} " +
      s"extra, ${want -- got} missing")
  }

  private def run(sc: Scenario, id: Int): Unit = {
    val name = s"t_${sc.layout}_$id"
    val dir = s"$wh/faces/$name"
    var model: Map[Long, Rec] = sc.init.map(r => r.k -> r).toMap
    // several input partitions: each bucket starts with several files
    PartitionedUpsert.init(frame(sc.init.map(r => Row.fromSeq(row(sc, r, false))),
      schema(sc, false)).repartition(3), dir, "k", sc.n, layout = sc.layout)
    merge(dir, sc, sc.b1, sc.d1, 1L, withTier = false)
    model = model -- sc.d1 ++ sc.b1.map(r => r.k -> r)
    PartitionedUpsert.compactFiles(spark, dir, maxFilesPerBucket = 1): Unit
    val vOld = PartitionedUpsert.manifestOrFail(spark, dir).version
    val modelOld = model
    PartitionedUpsert.evolveSchema(spark, dir,
      Seq(Cdc.AddColumn("tier", LongType, Some("7"))), "k", sc.n)
    model = model.map { case (k, r) => k -> r.copy(tier = Some(7L)) }
    merge(dir, sc, sc.b2, Nil, 2L, withTier = true)
    model = model ++ sc.b2.map(r => r.k -> r)
    PartitionedUpsert.deleteMor(spark, dir,
      frame(sc.mor.map(k => Row(k)), StructType(Seq(StructField("k", LongType)))),
      "k"): Unit
    model = model -- sc.mor
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    assert(m.tombs.nonEmpty &&
        m.defaults.exists(d => m.buckets.keys.exists(d.activeFor(m, _))),
      "the scenario must leave tombstones and an active default")
    assert(recsOf(PartitionedUpsert.read(spark, dir)) == model.values.toSet,
      "PartitionedUpsert.read must equal the model")
    Thread.sleep(5)
    val now = System.currentTimeMillis()
    val idx = s"$wh/faces_idx/$name"
    BloomIndex.build(spark, dir, idx, "s")

    val ps = preds(model, sc, withTier = true)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$dir'")
    try {
      check("session catalog", spark.table(name), model, ps)
      check("format(graft)", spark.read.format("graft").load(dir), model, ps)
      check("timestampAsOf", spark.read.format("graft")
        .option("timestampAsOf", now.toString).load(dir), model, ps)
      check("GraftCatalog", spark.table(s"gfaces.faces.$name"), model, ps)
      check("bloomIndexDir", spark.read.format("graft")
        .option("bloomIndexDir", idx).load(dir), model, ps)
      val psOld = preds(modelOld, sc, withTier = false)
      check("versionAsOf", spark.read.format("graft")
        .option("versionAsOf", vOld.toString).load(dir), modelOld, psOld)
      check("VERSION AS OF", spark.sql(
        s"SELECT * FROM gfaces.faces.$name VERSION AS OF $vOld"),
        modelOld, psOld)
      // the read is pinned at analysis; the write lands on the head
      spark.sql(s"INSERT INTO $name SELECT * FROM $name")
      assert(recsOf(spark.table(name)) == model.values.toSet,
        "INSERT INTO t SELECT * FROM t must leave the rows unchanged")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(1).withWorkers(1)

  Seq(PartitionedUpsert.LayoutHash -> false, PartitionedUpsert.LayoutRange -> true)
    .foreach { case (layout, keyFirst) =>
      val order = if (keyFirst) "key first" else "key second"
      test(s"every read face equals the model ($layout layout, $order)") {
        wh: Unit
        var id = 0
        val prop = Prop.forAll(genScenario(layout, keyFirst)) { sc =>
          id += 1
          run(sc, id)
          true
        }
        val res = SCTest.check(params, prop)
        assert(res.passed, res.status.toString)
      }
    }
}

object ReadFacesSpec {
  final case class Rec(k: Long, v: Long, s: String, tier: Option[Long])
  final case class Scenario(layout: String, keyFirst: Boolean, n: Int,
                            init: Seq[Rec],
                            b1: Seq[Rec], d1: Seq[Long], b2: Seq[Rec],
                            mor: Seq[Long])
  final case class Pred(name: String, col: Column, keep: Rec => Boolean)
}
