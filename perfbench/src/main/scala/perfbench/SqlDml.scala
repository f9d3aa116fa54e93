package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.cdc.PartitionedUpsert
import graft.streaming.CdcStream

/** sql_dml: rounds of change against a 16-bucket `USING graft` catalog
  * table shaped like TPC-H `orders`. Each round runs one SQL MERGE from a
  * seeded source view (updates, inserts and deletes on skewed keys), lands
  * one Debezium-style JSON change file that goes through
  * `CdcStream.source` into `writeStream.format("graft")` (opCol and lsnCol
  * set) on the same table, then a key-range UPDATE (even rounds) or a
  * point DELETE (odd rounds). A full-table aggregate and point SELECTs
  * follow each MERGE, so a write gain that fragments files shows as a read
  * loss. Driver-side statement work (SQL front end, catalog, manifest
  * commit, the merge stats path for few touched buckets) dominates the
  * statements; the change files run the streaming layer. */
object SqlDml extends Workload {
  val Rows = 4000
  val KeySpace = 2L * Rows
  val Buckets = 16
  val SrcRows = 200
  val Events = 200
  val UpdateWidth = 100L
  /** Reads per round, right after the MERGE, the aggregate first: every
    * sample of a kind then sees the same kind of table state (the first
    * aggregate after a commit reads the new files cold, a second one does
    * not). */
  val PointReads = 6
  /** Rounds before the measured ones, as warm-up (caches, JIT, first
    * codegen): counted as attempted, left out of the latency samples. The
    * JIT curve still falls through a third round, and samples taken on it
    * vary with how fast the host ran, so two go before the measured ones. */
  val WarmRounds = 2
  /** Seconds one round takes on a 4-core host: sizes the measured loop. */
  val RoundS = 6.5
  val Table = "bench_orders"

  final case class Order(k: Long, cust: Long, cents: Long, status: String, comment: String)

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_totalcents", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_comment", StringType)))

  private val srcSchema = StructType(schema.fields :+ StructField("op", StringType))

  private val Statuses = Array("O", "F", "P")

  private def word(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  private def order(r: SplittableRandom, k: Long): Order =
    Order(k, 1 + r.nextInt(15000), 100 + r.nextInt(50000000),
      Statuses(r.nextInt(3)), s"${word(r, 6)} ${word(r, 9)}")

  /** The initial table: odd keys, so inserts have room between them. */
  def base(seed: Long): IndexedSeq[Order] = {
    val r = new SplittableRandom(seed)
    (0 until Rows).map(i => order(r, 2L * i + 1))
  }

  /** Skewed key: low keys are drawn far more often than high ones. */
  private def skewedKey(r: SplittableRandom): Long =
    1L + math.min(KeySpace - 1, (math.pow(r.nextDouble(), 2.5) * KeySpace).toLong)

  private def liveKey(r: SplittableRandom, model: java.util.TreeMap[Long, Order]): Long = {
    val x = 1L + r.nextLong(KeySpace)
    if (model.lastKey() < x) model.firstKey() else model.ceilingKey(x)
  }

  final case class RoundInput(src: Seq[(Order, String)], updLo: Long, delKey: Long)

  /** One round's statements, drawn from the seed, the round number and
    * the current model (so deletes hit live keys). */
  def round(seed: Long, i: Int, model: java.util.TreeMap[Long, Order]): RoundInput = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < SrcRows) keys += skewedKey(r)
    val src = keys.toSeq.map { k =>
      val o = order(r, k)
      val op =
        if (model.containsKey(k)) { if (r.nextInt(100) < 20) "d" else "u" }
        else if (r.nextInt(100) < 90) "i" else "d"
      (o, op)
    }
    RoundInput(src, 1L + r.nextLong(KeySpace - UpdateWidth), liveKey(r, model))
  }

  /** A Debezium change event: op c/u/d, before and after images. */
  final case class Event(op: String, lsn: Long, before: Option[Order], after: Option[Order])

  private def payload(o: Order): String =
    s"""{"o_orderkey":${o.k},"o_custkey":${o.cust},"o_totalcents":${o.cents},""" +
      s""""o_orderstatus":"${o.status}","o_comment":"${o.comment}"}"""

  def json(e: Event): String =
    s"""{"op":"${e.op}","before":${e.before.map(payload).getOrElse("null")},""" +
      s""""after":${e.after.map(payload).getOrElse("null")},""" +
      s""""source":{"table":"orders","lsn":${e.lsn}},"ts_ms":${e.lsn}}"""

  /** One change file: updates, inserts and deletes of skewed keys, drawn
    * against the model as it stands (keys may repeat within a file). */
  def changeFile(seed: Long, i: Int, firstLsn: Long,
                 model: java.util.TreeMap[Long, Order]): Seq[Event] = {
    val r = new SplittableRandom(seed * 7919L + i)
    val seen = mutable.Map.empty[Long, Option[Order]]
    def cur(k: Long): Option[Order] = seen.getOrElse(k, Option(model.get(k)))
    (0 until Events).map { j =>
      val k = skewedKey(r)
      val lsn = firstLsn + j
      val e = cur(k) match {
        case Some(old) if r.nextInt(100) < 18 => Event("d", lsn, Some(old), None)
        case Some(old) => Event("u", lsn, Some(old), Some(order(r, k)))
        case None => Event("c", lsn, None, Some(order(r, k)))
      }
      seen(k) = e.after
      e
    }
  }

  val mergeSql: String =
    s"""MERGE INTO $Table AS t USING bench_src AS s ON t.o_orderkey = s.o_orderkey
       |WHEN MATCHED AND s.op = 'd' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET o_totalcents = s.o_totalcents,
       |  o_orderstatus = s.o_orderstatus, o_comment = s.o_comment
       |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT
       |  (o_orderkey, o_custkey, o_totalcents, o_orderstatus, o_comment)
       |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalcents, s.o_orderstatus, s.o_comment)""".stripMargin

  def updateSql(lo: Long): String =
    s"UPDATE $Table SET o_totalcents = o_totalcents + 1, o_orderstatus = 'U' " +
      s"WHERE o_orderkey BETWEEN $lo AND ${lo + UpdateWidth - 1}"
  def deleteSql(k: Long): String = s"DELETE FROM $Table WHERE o_orderkey = $k"
  def pointSql(k: Long): String = s"SELECT * FROM $Table WHERE o_orderkey = $k"
  val aggSql: String =
    s"SELECT count(*), sum(o_totalcents), count(DISTINCT o_orderstatus) FROM $Table"

  private def toRow(o: Order): Row = Row(o.k, o.cust, o.cents, o.status, o.comment)
  private def fromRow(r: Row): Order =
    Order(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))
  def line(o: Order): String = s"${o.k}|${o.cust}|${o.cents}|${o.status}|${o.comment}"

  // model transitions: the statement semantics, applied in statement order
  private def applyMerge(m: java.util.TreeMap[Long, Order], src: Seq[(Order, String)]): Long = {
    var n = 0L
    src.foreach { case (o, op) =>
      val cur = m.get(o.k)
      if (cur != null) {
        n += 1
        if (op == "d") m.remove(o.k)
        else m.put(o.k, cur.copy(cents = o.cents, status = o.status, comment = o.comment))
      } else if (op != "d") { n += 1; m.put(o.k, o) }
    }
    n
  }
  private def applyUpdate(m: java.util.TreeMap[Long, Order], lo: Long): Long = {
    val hit = m.subMap(lo, true, lo + UpdateWidth - 1, true).values().asScala.toSeq
    hit.foreach(o => m.put(o.k, o.copy(cents = o.cents + 1, status = "U")))
    hit.size.toLong
  }
  /** Last write by lsn wins; a delete removes the key. */
  private def applyEvents(m: java.util.TreeMap[Long, Order], es: Seq[Event]): Long = {
    es.foreach { e =>
      e.after match {
        case Some(a) => m.put(a.k, a)
        case None => m.remove(e.before.get.k)
      }
    }
    es.size.toLong
  }

  private def startStream(spark: SparkSession, landing: String, ckpt: String,
                          dir: String): StreamingQuery =
    CdcStream.source(spark, landing, schema)
      .select(col("op"), col("lsn"),
        coalesce(col("after.o_orderkey"), col("before.o_orderkey")).as("o_orderkey"),
        col("after.o_custkey").as("o_custkey"),
        col("after.o_totalcents").as("o_totalcents"),
        col("after.o_orderstatus").as("o_orderstatus"),
        col("after.o_comment").as("o_comment"))
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("opCol", "op").option("lsnCol", "lsn")
      .start(dir)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ops = new Ops
    val checks = mutable.ArrayBuffer.empty[Check]
    val tr = ctx.tracer

    val (dir, setupS, genCheck) = Workload.repeatedSetup(3) { i =>
      val rows = base(ctx.seed)
      val m0 = new java.util.TreeMap(rows.map(o => o.k -> o).toMap.asJava)
      val first = round(ctx.seed, 0, m0)
      val hash = Workload.sha256(rows.iterator.map(line) ++
        first.src.iterator.map { case (o, op) => line(o) + "|" + op } ++
        changeFile(ctx.seed, 0, 1L, m0).iterator.map(json))
      val d = ctx.dir(s"sql_dml/t$i")
      PartitionedUpsert.init(spark.createDataFrame(rows.map(toRow).asJava, schema)
        .coalesce(1), // one file per bucket, as a bulk load writes it
        d, "o_orderkey", Buckets)
      spark.sql(s"DROP TABLE IF EXISTS $Table")
      spark.sql(s"CREATE TABLE $Table USING graft LOCATION '$d'")
      (d, hash)
    }
    checks += genCheck
    ctx.phase("setup")
    val model = new java.util.TreeMap[Long, Order]()
    base(ctx.seed).foreach(o => model.put(o.k, o))

    val root = ctx.dir("sql_dml/stream")
    val landing = s"$root/landing"
    val staging = s"$root/staging"
    Seq(landing, staging).foreach(d => Files.createDirectories(Path.of(d)))
    val query = startStream(spark, landing, s"$root/checkpoint", dir)
    query.processAllAvailable()
    ctx.phase("stream_start")

    var lsn = 1L
    var changeRows = 0L // rows the SQL statements changed
    var applied = 0L // change events the stream applied
    // traced-run bookkeeping
    val probeMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val mergeRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val writes = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)] // versions, buckets, files, bytes
    val pointRatios = mutable.ArrayBuffer.empty[Double]
    var attributedMs = 0.0

    def exec[T](kind: String)(body: => T): (Option[T], Option[OpTrace]) = tr match {
      case None => (ops.timed(kind)(body), None)
      case Some(t) =>
        var trace: Option[OpTrace] = None
        val r = ops.timed(kind) { val (v, o) = t.op(kind)(body); trace = Some(o); v }
        (r, trace)
    }

    /** Timed layer calls standing for the statement's own parse, manifest
      * read and catalog lookup; returns their total milliseconds. */
    def probe(stmt: String, write: Boolean): Double = tr.map { t =>
      def timedSpan(name: String)(body: => Any): Double = {
        val t0 = System.nanoTime()
        t.span(name)(body)
        val ms = (System.nanoTime() - t0) / 1e6
        probeMs(name) += ms
        ms
      }
      timedSpan("plans.parse")(spark.sessionState.sqlParser.parsePlan(stmt)) +
        (if (write)
          timedSpan("upsert.manifest_read")(PartitionedUpsert.currentManifest(spark, dir)) +
            timedSpan("upsert.catalog_resolve")(spark.sql(s"DESCRIBE TABLE EXTENDED $Table").collect())
         else 0.0)
    }.getOrElse(0.0)

    /** Runs one write; on success applies it to the model. A traced run
      * also records what the write committed. */
    def write(kind: String, stmt: Option[String])(body: => Unit)(applyModel: => Long): Long = {
      val m0 = tr.map(_ => PartitionedUpsert.manifestOrFail(spark, dir))
      val f0 = tr.map(_ => Workload.files(dir))
      val (res, trace) = exec(kind)(body)
      val n = if (res.nonEmpty) applyModel else 0L
      for (t <- trace; b0 <- m0; files0 <- f0) {
        val calls = stmt.map(probe(_, write = true)).getOrElse(0.0)
        attributedMs += calls
        val m1 = PartitionedUpsert.manifestOrFail(spark, dir)
        val touched = (b0.buckets.keySet ++ m1.buckets.keySet)
          .count(b => b0.buckets.get(b) != m1.buckets.get(b))
        val files1 = Workload.files(dir)
        val added = files1.keySet -- files0.keySet
        writes += ((m1.version - b0.version, touched.toLong, added.size.toLong,
          Workload.newBytes(files0, files1)))
        if (kind == "merge") mergeRows += Map(
          "wall" -> t.wallMs.toDouble, "busy" -> t.jobBusyMs.toDouble,
          "catalyst" -> t.catalystMs.toDouble, "calls" -> calls,
          "unattributed" -> (t.gapMs - t.catalystMs - calls), "jobs" -> t.c.jobs.toDouble)
      }
      n
    }

    def sql(kind: String, stmt: String)(applyModel: => Long): Unit =
      changeRows += write(kind, Some(stmt))(spark.sql(stmt).collect())(applyModel)

    /** Lands change file `i` and waits until the stream has committed it. */
    def land(i: Int): Unit = {
      val es = changeFile(ctx.seed, i, lsn, model)
      lsn += es.size
      val staged = Path.of(s"$staging/changes-$i.json")
      Files.write(staged, es.map(json).mkString("\n").getBytes(StandardCharsets.UTF_8))
      applied += write("batch", None) {
        Files.move(staged, Path.of(s"$landing/changes-$i.json"), StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      }(applyEvents(model, es))
    }

    val rr = new SplittableRandom(ctx.seed + 17)
    var pointMismatch = 0
    var aggMismatch = 0
    def pointRead(): Unit = {
      val k = liveKey(rr, model)
      val (res, trace) = exec("point_read")(spark.sql(pointSql(k)).collect())
      res.foreach { rows =>
        if (rows.map(fromRow).toSeq != Option(model.get(k)).toSeq) pointMismatch += 1
        trace.foreach { t =>
          attributedMs += probe(pointSql(k), write = false)
          pointRatios += t.c.inputRecords.toDouble / math.max(1, rows.length)
          tr.get.span("sources.read_for_keys") {
            import spark.implicits._
            PartitionedUpsert.readForKeys(spark, dir, Seq(k).toDF("o_orderkey"), "o_orderkey")
              .filter(col("o_orderkey") === k).collect()
          }
        }
      }
    }
    def scan(): Unit = {
      val vals = model.values().asScala
      val wantAgg = (vals.size.toLong, vals.map(_.cents).sum, vals.map(_.status).toSet.size.toLong)
      val (agg, aggTrace) = exec("scan")(spark.sql(aggSql).collect())
      aggTrace.foreach(_ => attributedMs += probe(aggSql, write = false))
      agg.foreach { rows =>
        if ((rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2)) != wantAgg) aggMismatch += 1
      }
    }

    def oneRound(i: Int): Unit = {
      val in = round(ctx.seed, i, model)
      spark.createDataFrame(in.src.map { case (o, op) => Row.fromSeq(toRow(o).toSeq :+ op) }.asJava,
        srcSchema).createOrReplaceTempView("bench_src")
      sql("merge", mergeSql)(applyMerge(model, in.src))
      scan()
      (0 until PointReads).foreach(_ => pointRead())
      land(i)
      // warm-up rounds run both
      if (i % 2 == 0 || i < 0) sql("update", updateSql(in.updLo))(applyUpdate(model, in.updLo))
      if (i % 2 != 0 || i < 0) sql("delete", deleteSql(in.delKey)) {
        if (model.remove(in.delKey) != null) 1L else 0L
      }
    }

    (1 to WarmRounds).foreach(i => oneRound(-i))
    val warmOps = ops.attempted
    tr.foreach { t => t.opTraces.clear(); t.drain(); t.progress.clear() }
    probeMs.clear(); mergeRows.clear(); writes.clear()
    attributedMs = 0.0
    changeRows = 0L
    applied = 0L
    ctx.phase("warm_up")

    val filesBefore = Workload.files(dir)
    val lp = Workload.loop(ctx.seconds, RoundS, ops)(oneRound)
    val rounds = lp.rounds
    val written = Workload.newBytes(filesBefore, Workload.files(dir))
    ctx.phase("measure")
    val liveHeapMb = LiveHeap.mb()
    tr.foreach(_.drain())
    val progress = tr.map(_.progress.toSeq.filter(_._2 > 0)).getOrElse(Nil)
    query.stop()
    ctx.phase("stream_stop")

    // final state must equal the model of the applied statements and events
    val got = spark.table(Table).collect().map(fromRow).sortBy(_.k).toSeq
    val want = model.values().asScala.toSeq
    checks += Check("final_table_equals_model", got == want,
      s"${got.size} rows read, ${want.size} in model, " +
        s"${got.zip(want).count { case (a, b) => a != b } + math.abs(got.size - want.size)} differ")
    checks += Check("point_reads_match_model", pointMismatch == 0, s"$pointMismatch mismatches")
    checks += Check("aggregates_match_model", aggMismatch == 0, s"$aggMismatch mismatches")

    def measured(kind: String): Seq[Double] = ops.measured(kind, lp.quiet)
    val e2e = ListMap(
      "setup_s" -> setupS,
      "live_heap_mb" -> liveHeapMb,
      "op_p50_s" -> Stats.median(measured("merge")),
      "read_p50_s" -> Stats.median(measured("point_read")),
      "scan_p50_s" -> Stats.median(measured("scan")),
      "rows_per_s" -> Events * measured("batch").size / measured("batch").sum,
      "bytes_per_row" -> written.toDouble / math.max(1L, changeRows + applied))

    val layers: Map[String, Double] = tr.map { t =>
      t.drain()
      val m = PartitionedUpsert.manifestOrFail(spark, dir)
      val live = m.buckets.values.toSeq.map(rel => Workload.files(s"$dir/$rel")
        .keys.count(_.endsWith(".parquet"))).sum
      def perRound(x: Double) = x / rounds
      val nWrites = math.max(1, writes.size)
      val nTriggers = math.max(1, progress.size)
      def dur(k: String): Double = progress.map(_._1.getOrElse(k, 0L).toDouble).sum / nTriggers
      // stream engine time outside addBatch: inside the batch op, no job
      val engineMs = Seq("walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")
        .map(k => progress.map(_._1.getOrElse(k, 0L).toDouble).sum).sum
      Layers.common(t.opTraces.toSeq, rounds, attributedMs + engineMs) ++ Map(
        "plans.parse_ms" -> perRound(probeMs("plans.parse")),
        "upsert.manifest_read_ms" -> perRound(probeMs("upsert.manifest_read")),
        "upsert.catalog_resolve_ms" -> perRound(probeMs("upsert.catalog_resolve")),
        "upsert.versions_per_stmt" -> writes.map(_._1).sum.toDouble / nWrites,
        "upsert.buckets_touched" -> writes.map(_._2).sum.toDouble / nWrites,
        "upsert.files_added" -> writes.map(_._3).sum.toDouble / nWrites,
        "upsert.bytes_added" -> writes.map(_._4).sum.toDouble / nWrites,
        "upsert.live_files" -> live.toDouble,
        "sources.records_per_point_row" -> Layers.med(pointRatios.toSeq),
        "sources.api_point_ms" -> t.spanMs("sources.read_for_keys") / math.max(1, pointRatios.size),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "stream.commit_offsets_ms" -> dur("commitOffsets"),
        "stream.latest_offset_ms" -> dur("latestOffset"),
        "stream.get_batch_ms" -> dur("getBatch"),
        "stream.query_planning_ms" -> dur("queryPlanning"),
        "stream.rows_per_trigger" -> progress.map(_._2.toDouble).sum / nTriggers,
        "merge.wall_ms" -> Layers.med(mergeRows.map(_("wall")).toSeq),
        "merge.jobs_busy_ms" -> Layers.med(mergeRows.map(_("busy")).toSeq),
        "merge.catalyst_ms" -> Layers.med(mergeRows.map(_("catalyst")).toSeq),
        "merge.layer_calls_ms" -> Layers.med(mergeRows.map(_("calls")).toSeq),
        "merge.unattributed_ms" -> Layers.med(mergeRows.map(_("unattributed")).toSeq),
        "merge.jobs" -> Layers.med(mergeRows.map(_("jobs")).toSeq),
        "trace.op_p50_s" -> Stats.median(measured("merge")))
    }.getOrElse(Map.empty)

    spark.sql(s"DROP TABLE IF EXISTS $Table")
    Outcome(checks.toSeq, ops, e2e, layers,
      ListMap("rounds" -> rounds, "quiet_rounds" -> lp.quiet.toSeq.sorted,
        "round_steal_share" -> lp.steal, "warmup_operations" -> warmOps,
        "change_rows" -> changeRows, "events_applied" -> applied,
        "bytes_written" -> written, "table_rows" -> want.size,
        "triggers_with_data" -> progress.size,
        "merge_breakdown_ms" -> mergeRows.map(r => ListMap(r.toSeq.sortBy(_._1): _*)).toSeq))
  }
}
