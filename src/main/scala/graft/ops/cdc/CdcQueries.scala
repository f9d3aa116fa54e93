package graft.ops.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** §2-I oracled CDC queries. All operate on a deterministic change log
  * derived in-query from `events` (FIXTURES.md §3) so the DuckDB
  * oracle runs on the same parquet corpus:
  * key = user_id, lsn = event_id (monotonic), op from event_type.
  */
object CdcQueries {

  /** The shared derived change log (`lsn` not `offset`: reserved word
    * in DuckDB). Timestamps second-truncated per SURVEY §5.4. */
  def changeLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "events").select(
      $"event_id".as("lsn"),
      $"user_id".as("pk"),
      when($"event_type" === "signup", "c")
        .when($"event_type" === "error", "d")
        .otherwise("u").as("op"),
      $"value".as("after_value"),
      date_trunc("second", $"ts").as("ts"))
  }

  private val logCte =
    """log AS (
      |  SELECT event_id AS lsn, user_id AS pk,
      |    CASE event_type WHEN 'signup' THEN 'c'
      |                    WHEN 'error'  THEN 'd'
      |                    ELSE 'u' END AS op,
      |    value AS after_value,
      |    date_trunc('second', ts) AS ts
      |  FROM events)""".stripMargin

  /** Envelope decode: JSON change records → typed columns. The
    * envelope is built in-query (identical string template on both
    * engines) and decoded with from_json on the Spark side. */
  def qCdcDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
    val env = concat(
      lit("{\"op\":\""), $"op",
      lit("\",\"after\":{\"pk\":"), $"pk",
      lit(",\"v\":"), $"after_value",
      lit("},\"source\":{\"table\":\"events\",\"lsn\":"), $"lsn",
      lit("},\"ts_ms\":"), unix_timestamp($"ts") * 1000,
      lit("}"))
    val payload = StructType(Seq(
      StructField("pk", LongType), StructField("v", DoubleType)))
    Cdc.decode(log.select($"lsn".as("event_id"), env.as("j")), "j", payload)
      .select($"event_id", $"op", $"after.pk".as("pk"), $"after.v".as("v"),
        $"src_table", $"lsn", $"ts_ms")
      .orderBy($"event_id")
  }

  /** AVRO wire-format decode through the canonical model — the third
    * wire format (after JSON and Maxwell), oracled the only way a
    * binary format can be: the canonical envelope frame is derived
    * from the change log (insert → null before, delete → null after,
    * update → both — every null-union path), ENCODED to Avro binary
    * and DECODED back on the Spark side ([[graft.sources.AvroCdc]]),
    * while the DuckDB oracle re-derives the same canonical columns
    * from the log DIRECTLY, never seeing a byte of Avro. The hash
    * match proves encode→decode is the identity on every field and
    * null path against an independently-computed truth. Narrow
    * row-local map both directions — no shuffle. */
  def qCdcDecodeAvro(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payload = StructType(Seq(
      StructField("pk", LongType), StructField("v", DoubleType),
      StructField("lbl", StringType)))
    val canonical = changeLog(spark, dir).select(
      $"op",
      when($"op" =!= "c", struct($"pk", ($"after_value" - 1.0).as("v"),
        lit("old").as("lbl"))).as("before"),
      when($"op" =!= "d", struct($"pk", $"after_value".as("v"),
        concat(lit("e"), $"lsn").as("lbl"))).as("after"),
      lit("events").as("src_table"),
      $"lsn",
      ($"lsn" * 1000L + 1700000000000L).as("ts_ms"))
      // the whole avro encode+decode otherwise runs on the log's ONE
      // input split (profiled r20: a single 0.5-0.7 s task with 31
      // cores idle — guide §2.5's unsplittable-input case); spread the
      // CPU-bound codec work across the cluster before paying it. The
      // shuffle moves 10k short rows — noise next to the codec.
      .repartition(spark.sparkContext.defaultParallelism)
    graft.sources.AvroCdc.decode(
        graft.sources.AvroCdc.encode(canonical, payload), "value", payload)
      .select($"op",
        $"before.pk".as("b_pk"), $"before.v".as("b_v"),
        $"before.lbl".as("b_lbl"),
        $"after.pk".as("a_pk"), $"after.v".as("a_v"),
        $"after.lbl".as("a_lbl"),
        $"src_table", $"lsn", $"ts_ms")
      .orderBy($"lsn")
  }

  /** Maxwell-format decode through the canonical model: the envelope
    * is built in-query (identical string template both engines) in
    * Maxwell's wire shape — type names, data/old payloads, xid, ts
    * seconds — and [[Cdc.decodeMaxwell]] normalizes it to the same
    * columns the Debezium path produces. `old` is present only on
    * updates and carries only the changed column (Maxwell's sparse
    * semantics); the oracle re-derives every mapping in SQL. */
  def qCdcDecodeMaxwell(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
    val mtype = when($"op" === "c", "insert")
      .when($"op" === "u", "update").otherwise("delete")
    val env = concat(
      lit("{\"database\":\"shop\",\"table\":\"events\",\"type\":\""), mtype,
      lit("\",\"ts\":"), unix_timestamp($"ts"),
      lit(",\"xid\":"), $"lsn",
      lit(",\"data\":{\"pk\":"), $"pk", lit(",\"v\":"), $"after_value",
      lit("}"),
      when($"op" === "u",
        concat(lit(",\"old\":{\"v\":"), $"after_value" + 1.0, lit("}")))
        .otherwise(lit("")),
      lit("}"))
    val payload = StructType(Seq(
      StructField("pk", LongType), StructField("v", DoubleType)))
    Cdc.decodeMaxwell(log.select($"lsn".as("event_id"), env.as("j")), "j", payload)
      .select($"event_id", $"op", $"after.pk".as("pk"), $"after.v".as("v"),
        $"before.v".as("old_v"), $"src_table", $"tx_id", $"ts_ms")
      .orderBy($"event_id")
  }

  /** Dead-letter decode, oracled end-to-end: a deterministic fraction
    * of the in-query envelope fixture is corrupted (lsn%13 → truncated
    * JSON, else lsn%17 → op outside the c/u/d/r/s/t set, else lsn%19 →
    * null lsn), then decodeWithDlq splits good from quarantined and
    * the audit counts rows per failure class — the observability
    * surface a CDC tool owes its operator (nothing vanishes silently). */
  def qCdcBadrecords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
      .withColumn("kind",
        when($"lsn" % 13 === 0, "malformed")
          .when($"lsn" % 17 === 0, "badop")
          .when($"lsn" % 19 === 0, "nolsn")
          .otherwise("ok"))
    val j0 = concat(
      lit("{\"op\":\""),
      when($"kind" === "badop", lit("x")).otherwise($"op"),
      lit("\",\"after\":{\"pk\":"), $"pk",
      lit(",\"v\":"), $"after_value",
      lit("},\"source\":{\"table\":\"events\",\"lsn\":"),
      when($"kind" === "nolsn", lit("null")).otherwise($"lsn".cast(StringType)),
      lit("},\"ts_ms\":"), unix_timestamp($"ts") * 1000,
      lit("}"))
    val raw = log.select(
      when($"kind" === "malformed", j0.substr(lit(1), length(j0) - 1))
        .otherwise(j0).as("j"))
      // spread the classifier's json parse off the log's one input
      // split (the q_cdc_decode_avro rationale, guide §2.5)
      .repartition(spark.sparkContext.defaultParallelism)
    // single-pass audit (one scan, one shuffle) on the same classifier
    // expression decodeWithDlq splits with — drift-impossible
    Cdc.dlqAudit(raw, "j").orderBy($"failure_class")
  }

  /** DLQ replay ([[Cdc.replayDlq]]) on the q_cdc_badrecords fixture:
    * the malformed class (truncated JSON — the producer-crash
    * signature) is FIXABLE by re-appending the brace; badop/nolsn are
    * semantic and stay dead. The key emits the RECOVERED rows decoded
    * through the same envelope path as the main pipeline: exactly the
    * lsn%13 plants (minus those also hit by a semantic corruption)
    * come back, typed and ordered. The oracle rebuilds fixture +
    * repair + decode in SQL. */
  def qCdcDlqReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
      .withColumn("kind",
        when($"lsn" % 13 === 0, "malformed")
          .when($"lsn" % 17 === 0, "badop")
          .when($"lsn" % 19 === 0, "nolsn")
          .otherwise("ok"))
    val j0 = concat(
      lit("{\"op\":\""),
      when($"kind" === "badop", lit("x")).otherwise($"op"),
      lit("\",\"after\":{\"pk\":"), $"pk",
      lit(",\"v\":"), $"after_value",
      lit("},\"source\":{\"table\":\"events\",\"lsn\":"),
      when($"kind" === "nolsn", lit("null")).otherwise($"lsn".cast(StringType)),
      lit("},\"ts_ms\":"), unix_timestamp($"ts") * 1000,
      lit("}"))
    val raw = log.select(
      when($"kind" === "malformed", j0.substr(lit(1), length(j0) - 1))
        .otherwise(j0).as("j"))
      // spread the double json parse (classifier + replay decode) off
      // the log's one input split (profiled r20: a single 2.0 s task
      // with 31 cores idle — the q_cdc_decode_avro rationale).
      // MATERIALIZED: the DLQ classifier filter is deterministic, so
      // Catalyst pushes it back through the exchange onto the 1-task
      // scan side (verified in plans/r20/); checkpointing the spread
      // envelope frame pins the expensive from_json classifier above
      // the spread boundary — the same materialize-the-classified-
      // stream shape a production DLQ split runs (both halves are
      // sinks there). 100k short strings; Bench GCs blocks per key.
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    val payload = StructType(Seq(
      StructField("pk", LongType), StructField("v", DoubleType)))
    val (_, dlq) = Cdc.decodeWithDlq(raw, "j", payload)
    // repair rule: a truncated envelope (no trailing brace) gets it
    // re-appended; anything else replays unchanged
    val fix = (c: org.apache.spark.sql.Column) =>
      when(substring(c, -1, 1) =!= "}", concat(c, lit("}"))).otherwise(c)
    val (recovered, _) = Cdc.replayDlq(dlq, "raw", payload, fix)
    recovered
      .select($"lsn", $"op", $"after.pk".as("pk"), $"after.v".as("v"))
      .orderBy($"lsn")
  }

  /** Additive schema evolution across the decode+apply path, oracled
    * end-to-end (promotes the scalatest-only schema-drift row to a
    * cross-engine key): a column `w` is ADDED to the wire payload
    * mid-stream (present only for lsn past the half-way DDL cut —
    * broadcast-scalar, scale-safe), the decoder reads the WHOLE log
    * with the evolved schema (from_json null-fills the pre-DDL rows —
    * the unionByName(allowMissingColumns) semantics at the wire
    * level), and the apply yields a state where `w` is non-null
    * exactly for keys last touched after the DDL. The oracle derives
    * that closed form directly — no JSON machinery on its side. */
  def qCdcEvolve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
    val mx = log.agg(max($"lsn").as("__mx"))
    val tagged = log.crossJoin(broadcast(mx))
    val hasW = expr("lsn > __mx DIV 2")
    val env = concat(
      lit("{\"op\":\""), $"op",
      lit("\",\"after\":{\"pk\":"), $"pk",
      lit(",\"v\":"), $"after_value".cast(DecimalType(12, 2)).cast(StringType),
      when(hasW, concat(lit(",\"w\":"),
        ($"pk" * 10 + $"lsn" % 7).cast(StringType))).otherwise(lit("")),
      lit("},\"source\":{\"table\":\"events\",\"lsn\":"), $"lsn",
      lit("},\"ts_ms\":0}"))
    val payload = StructType(Seq(
      StructField("pk", LongType), StructField("v", DoubleType),
      StructField("w", LongType)))
    val decoded = Cdc.decode(
        tagged.select($"lsn".as("event_id"), env.as("j"))
          // spread the evolved-schema json parse off the log's one
          // input split (the q_cdc_decode_avro rationale)
          .repartition(spark.sparkContext.defaultParallelism),
        "j", payload)
      .select($"lsn", $"op", $"after.pk".as("pk"),
        $"after.v".as("v"), $"after.w".as("w"))
    val snap = Tables.table(spark, dir, "customer")
      .select($"c_custkey".as("pk"), $"c_acctbal".as("v"),
        lit(null).cast(LongType).as("w"))
    Cdc.apply(snap, decoded, Seq("pk"), "lsn", "op", Seq("v", "w"))
      .orderBy($"pk")
  }

  /** Initial snapshot (op='r') unioned with incrementals, lsn-ordered. */
  def qCdcSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = Tables.table(spark, dir, "customer").select(
      lit(-1L).as("lsn"), $"c_custkey".as("pk"),
      lit("r").as("op"), $"c_acctbal".as("after_value"))
    val inc = changeLog(spark, dir).select($"lsn", $"pk", $"op", $"after_value")
    snap.unionByName(inc).orderBy($"pk", $"lsn")
  }

  /** Incremental chunked snapshot, oracled end-to-end: the customer
    * table is "snapshotted live" in 4 modulo-keyed chunks at
    * increasing log watermarks (wm_i = (i+1)·max_lsn/4); each chunk's
    * content is the state the live table would show at that position
    * (simulated in-query so the DuckDB oracle sees the identical
    * chunks), then Cdc.applyChunkedSnapshot reconciles chunks with the
    * FULL log. Result = the same current state a monolithic
    * snapshot+apply yields, but obtained without ever pausing capture. */
  def qCdcSnapshotChunked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = Tables.table(spark, dir, "customer")
      .select($"c_custkey".as("pk"), $"c_acctbal".as("val"))
    val log = changeLog(spark, dir)
      .select($"lsn", $"pk", $"op", $"after_value".as("val"))
    // ONE partition for the 4-row chunk spec (optimization r20 — the
    // default-parallelism range pushed 32 near-empty partitions into
    // the chunk join's build side)
    val spec = spark.range(0, 4, 1, 1).toDF("chunk")
      .crossJoin(log.agg(max($"lsn").as("mx")))
      .select($"chunk", expr("((chunk + 1) * mx) DIV 4").as("wm"))
    val unionSrc = snap.select($"pk", $"val", lit(-1L).as("lsn"), lit("r").as("op"))
      .unionByName(log.select($"pk", $"val", $"lsn", $"op"))
    // simulated live-table read of chunk i at position wm_i
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"chunk", $"pk").orderBy($"lsn".desc)
    val chunkState = spec
      .join(unionSrc, unionSrc("pk") % 4 === spec("chunk") &&
        unionSrc("lsn") <= spec("wm"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "d")
      .select($"pk", $"val", $"wm")
    Cdc.applyChunkedSnapshot(chunkState, log,
        Seq("pk"), "lsn", "op", Seq("val"), "wm")
      .orderBy($"pk")
  }

  /** Log compaction: last-write-wins per key. */
  def qCdcCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Cdc.compact(changeLog(spark, dir), Seq("pk"), "lsn")
      .select($"pk", $"lsn", $"op", $"after_value")
      .orderBy($"pk")
  }

  /** Apply the change log to the customer snapshot (upsert + delete). */
  def qCdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = Tables.table(spark, dir, "customer")
      .select($"c_custkey".as("pk"), $"c_acctbal".as("val"))
    val log = changeLog(spark, dir).withColumnRenamed("after_value", "val")
    Cdc.apply(snap, log, Seq("pk"), "lsn", "op", Seq("val"))
      .orderBy($"pk")
  }

  /** Transaction-boundary-preserving apply, oracled end-to-end: tx
    * ids derived in-query (lsn DIV 7; every 5th event NULL-tx =
    * non-transactional, applies directly), commit markers (op='t')
    * synthesized for 2/3 of transactions — the withheld third must be
    * INVISIBLE in the applied state, whole (never half a transaction;
    * the Debezium boundary guarantee [[Cdc.applyTransactional]]
    * makes). The oracle re-derives visibility as a plain IN-subquery
    * against the committed set — a different evaluation of the same
    * boundary rule. */
  def qCdcApplyTxn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = Tables.table(spark, dir, "customer")
      .select($"c_custkey".as("pk"), $"c_acctbal".as("val"))
    val ev = changeLog(spark, dir).withColumnRenamed("after_value", "val")
      .withColumn("tx", when($"lsn" % 5 === 0, lit(null).cast("long"))
        .otherwise(expr("lsn DIV 7")))
      .select($"lsn", $"pk", $"op", $"val", $"tx")
    val markers = ev.filter($"tx".isNotNull && $"tx" % 3 =!= 0)
      .select($"tx").distinct()
      .select(($"tx" + lit(1000000000L)).as("lsn"), lit(-1L).as("pk"),
        lit("t").as("op"), lit(null).cast("double").as("val"), $"tx")
    Cdc.applyTransactional(snap, ev.unionByName(markers),
        Seq("pk"), "lsn", "op", Seq("val"), "tx")
      .orderBy($"pk")
  }

  /** Sparse (partial) after-image apply, oracled end-to-end. The
    * fixture builds per-event after-image JSON in-query (identical
    * string template on both engines): 'c' events carry a FULL
    * {v, lbl} image, 'd' an empty one, and 'u' events a SPARSE image —
    * v absent when lsn%3=0, explicit null when lsn%7=0; lbl absent
    * when lsn%5=0, explicit null when lsn%11=0 (so every decode path
    * is exercised: set, unchanged, set-NULL, empty update). Decoding
    * distinguishes absent from explicit null via json_object_keys /
    * json_keys, then Cdc.applySparse merges column-level LWW into the
    * customer snapshot. Oracle validated against an independent
    * event-by-event fold (1470 rows, 0 mismatches at sf0.01). */
  def qCdcApplySparse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.table(spark, dir, "events").select(
      $"event_id".as("lsn"), $"user_id".as("pk"),
      when($"event_type" === "signup", "c")
        .when($"event_type" === "error", "d")
        .otherwise("u").as("op"),
      $"value", $"event_type")
    val j = when($"op" === "d", lit("{}"))
      .when($"op" === "c", concat(
        lit("{\"v\":"), $"value",
        lit(",\"lbl\":\""), $"event_type", lit("\"}")))
      .otherwise(concat(lit("{"), concat_ws(",",
        when($"lsn" % 3 =!= 0, concat(lit("\"v\":"),
          when($"lsn" % 7 === 0, lit("null"))
            .otherwise($"value".cast(StringType)))),
        when($"lsn" % 5 =!= 0, concat(lit("\"lbl\":"),
          when($"lsn" % 11 === 0, lit("null"))
            .otherwise(concat(lit("\""), $"event_type", lit("\"")))))),
        lit("}")))
    val withJ = ev.withColumn("j", j)
    val (v, vp) = Cdc.sparseField($"j", "v", DoubleType)
    val (lbl, lp) = Cdc.sparseField($"j", "lbl", StringType)
    val slog = withJ.select($"lsn", $"pk", $"op",
      v.as("v"), vp.as("v_present"), lbl.as("lbl"), lp.as("lbl_present"))
    val snap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_acctbal".as("v"), $"c_mktsegment".as("lbl"))
    Cdc.applySparse(snap, slog, Seq("pk"), "lsn", "op", Seq("v", "lbl"))
      .orderBy($"pk")
  }

  /** Point-in-time recovery: replica state AS OF the log midpoint
    * (cut = max(lsn) DIV 2, derived in-query on both engines so the
    * fixture needs no driver-side action). Events after the cut do
    * not exist for this read. */
  def qCdcStateAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = Tables.table(spark, dir, "customer")
      .select($"c_custkey".as("pk"), $"c_acctbal".as("val"))
    val log = changeLog(spark, dir).withColumnRenamed("after_value", "val")
    // a one-row driver read prices like every other bounded collect in
    // this package, and routes the query through the actual public API
    val cut = log.agg(expr("max(lsn) DIV 2").as("cut")).head().getLong(0)
    Cdc.stateAsOf(snap, log, Seq("pk"), "lsn", "op", Seq("val"), cut)
      .orderBy($"pk")
  }

  /** SCD Type-2 history with [valid_from, valid_to) intervals. */
  def qCdcScd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Cdc.scd2(changeLog(spark, dir), Seq("pk"), "lsn", "ts")
      .select($"pk", $"lsn", $"op", $"after_value",
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"pk", $"lsn")
  }

  /** Incremental SCD2 maintenance, oracled end-to-end (the history
    * sibling of q_cdc_incr_agg): the log splits at its midpoint into
    * "already maintained" and "new batch"; the maintained history =
    * closed rows of the first half ∪ Scd2Maintain.chainBatch(open
    * rows, batch) — the EXACT algebra the per-trigger upkeep runs —
    * while the DuckDB oracle derives the history from the FULL log
    * directly. Equality proves interval closing, within-batch
    * chaining, and untouched-key passthrough compose. */
  def qCdcScd2Incr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
    val cut = log.agg(expr("max(lsn) DIV 2").as("cut")).head().getLong(0)
    // the maintained half materializes ONCE: its open and closed rows
    // both feed the result, and without the checkpoint the scd2
    // chaining window re-runs per reference (r14 multi-scan audit) —
    // in production this frame IS the persisted history sink
    val hist1 = Cdc.scd2(log.filter($"lsn" <= cut), Seq("pk"), "lsn", "ts")
      .localCheckpoint()
    val open = hist1.filter($"is_current")
      .select($"pk", $"lsn", $"ts", $"op", $"after_value")
    val batch = log.filter($"lsn" > cut)
      .select($"pk", $"lsn", $"ts", $"op", $"after_value")
    val outCols = Seq($"pk", $"lsn", $"op", $"after_value",
      $"valid_from", $"valid_to", $"is_current")
    Scd2Maintain.chainBatch(open, batch, "pk", "lsn", "ts")
      .select(outCols: _*)
      .unionByName(hist1.filter(!$"is_current").select(outCols: _*))
      .orderBy($"pk", $"lsn")
  }

  /** SCD2 temporal lookup — the consumer query history tables exist
    * for: which version of each key was valid at time T? Probes are
    * derived in-query (3 evenly spaced instants per key across the
    * log's time span, integer-second arithmetic so both engines land
    * on identical timestamps); the join is pk-equi + validity-range —
    * the equi key bounds it, so the range predicate is a post-filter
    * on a hash join, never a cross product. */
  def qCdcScd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
    val hist = Cdc.scd2(log, Seq("pk"), "lsn", "ts")
      .select($"pk", $"lsn", $"op", $"after_value", $"valid_from", $"valid_to")
    val b = log.agg(unix_timestamp(min($"ts")).as("mn"),
      unix_timestamp(max($"ts")).as("mx"))
    val probes = log.select($"pk").distinct()
      .crossJoin(broadcast(b))
      .select($"pk", explode(array((1 to 3).map(i =>
        struct(lit(i).as("probe_idx"),
          timestamp_seconds(expr(s"mn + ($i * (mx - mn)) DIV 4")).as("pt"))): _*))
        .as("p"))
      .select($"pk", $"p.probe_idx".as("probe_idx"), $"p.pt".as("pt"))
    probes.as("p").join(hist.as("h"),
        $"p.pk" === $"h.pk" && $"h.valid_from" <= $"p.pt" &&
          ($"h.valid_to".isNull || $"p.pt" < $"h.valid_to"))
      .select($"p.pk".as("pk"), $"probe_idx", $"pt",
        $"h.lsn".as("lsn"), $"h.op".as("op"),
        $"h.after_value".as("after_value"))
      .orderBy($"pk", $"probe_idx")
  }

  /** Incremental aggregate maintenance, oracled end-to-end: the log is
    * split at its midpoint into "already applied" and "new window";
    * the maintained per-segment aggregate is computed as
    * agg(state₁) ⊕ deltaAggregate(diff(state₁, state₂)) — the exact
    * algebra AggMaintain.maintainAggregate runs against the table-
    * backed CDF — while the DuckDB oracle aggregates state₂ DIRECTLY.
    * Equality proves delta-application composes (insert/update/delete
    * and group-migration updates all present: the after-image segment
    * is re-derived from lsn%5, so updates move keys between groups).
    * Measures in integer cents so sums are exact and order-free on
    * both engines; avg derives from the exact sum/count pair. */
  def qCdcIncrAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val snap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_mktsegment".as("seg"),
      round($"c_acctbal" * 100).cast(LongType).as("cents"))
    val log = changeLog(spark, dir).select(
      $"lsn", $"pk", $"op",
      element_at(array(segs.map(lit): _*),
        ($"lsn" % 5 + 1).cast(IntegerType)).as("seg"),
      when($"lsn" % 7 === 0, lit(null).cast(LongType))
        .otherwise(round($"after_value" * 100).cast(LongType)).as("cents"))
    // fixture shuffles sized to the data — the q_cdc_incr_minmax
    // rationale (optimization r20)
    graft.ConfScope.withShufflePartitions(spark, 8) {
    val cut = log.agg(expr("max(lsn) DIV 2").as("cut")).head().getLong(0)
    // materialized: each state feeds the seed aggregate AND the image
    // diff (the q_cdc_incr_minmax rationale). state₂ is COMPOSED from
    // the checkpointed state₁ — apply(apply(s, w₁), w₂) ≡ apply(s,
    // w₁ ∪ w₂) for lsn-disjoint windows (last event per key wins
    // whether the fold lands in one pass or two; a trailing 'd'
    // removes either way) — so the second apply reads the in-memory
    // state + half the log instead of re-scanning snapshot + full log
    // (guide §1.2: remove a whole pass). The oracle computes state₂
    // DIRECTLY from the full log, so the hash gate re-certifies the
    // composition law on every run.
    val state1 = Cdc.apply(snap, log.filter($"lsn" <= cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .localCheckpoint()
    val state2 = Cdc.apply(state1, log.filter($"lsn" > cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .localCheckpoint()
    val agg1 = AggMaintain.fullAggregate(state1, Seq("seg"), Seq("cents"))
    val deltas = AggMaintain.deltaAggregate(
      AggMaintain.diffImages(state1, state2, Seq("pk"), Seq("seg", "cents")),
      Seq("seg"), Seq("cents"))
    val maintained = AggMaintain.deltaApply(agg1, deltas,
      Seq("seg"), Seq("cents"))
    // materialized inside the scope: a lazy frame would plan its final
    // exchanges when the caller runs it, after the scope restored the
    // session default
    AggMaintain.exposed(maintained, Seq("seg"), Seq("cents"))
      .select($"seg", $"cnt", $"sum_cents",
        round($"avg_cents", 4).as("avg_cents"))
      .orderBy($"seg").localCheckpoint()
    }
  }

  /** Incremental MIN/MAX maintenance, oracled end-to-end (the
    * non-invertible sibling of q_cdc_incr_agg — extremes don't compose
    * from deltas, so this key certifies the [[MinMaxMaintain]] reserve
    * algebra instead): same midpoint split and seg/cents rewrite as
    * q_cdc_incr_agg; the Spark side seeds top-K/bottom-K reserves from
    * state₁ (K=2), composes the state₁→state₂ image diff through
    * deltaMinMax, rescans exactly the flagged groups from state₂, and
    * exposes min/max — while DuckDB computes min/max over state₂
    * DIRECTLY. The organic churn exercises the in-reserve fast path
    * only (probed: its windows always re-feed the reserves), so a
    * planted ZZ_PLANT group loses its top-3 values against K=2 —
    * deterministic reserve EXHAUSTION, forcing the scoped-rescan path
    * through the oracle too (the planted-twin convention). The hash
    * match proves watermark filtering, multiplicity tracking,
    * truncation, exhaustion detection, and the scoped rescan all
    * compose to the exact extreme. */
  def qCdcIncrMinmax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val snap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_mktsegment".as("seg"),
      round($"c_acctbal" * 100).cast(LongType).as("cents"))
    val log = changeLog(spark, dir).select(
      $"lsn", $"pk", $"op",
      element_at(array(segs.map(lit): _*),
        ($"lsn" % 5 + 1).cast(IntegerType)).as("seg"),
      when($"lsn" % 7 === 0, lit(null).cast(LongType))
        .otherwise(round($"after_value" * 100).cast(LongType)).as("cents"))
    // fixture shuffles sized to the DATA (15k-row snapshot, 10k-row
    // window — ~2k rows/task at 8), not the machine-wide default: the
    // checkpointed RDDs inherit the exchange sizing, so every
    // downstream reserve-fold pass scans 8 partitions instead of the
    // session's core count (optimization r20, guide §2.2 — the stream
    // fixtures' bucket-count discipline; results partitioning-
    // invariant, oracle hash untouched)
    graft.ConfScope.withShufflePartitions(spark, 8) {
    val cut = log.agg(expr("max(lsn) DIV 2").as("cut")).head().getLong(0)
    // planted exhaustion group: six values seeded, the top three gone
    // in the window — a K=2 reserve MUST empty and flag
    // ONE partition: a default-parallelism range drags 32 near-empty
    // partitions through every checkpointed union downstream (each
    // reserve-fold scan paid 33 tasks for 6 rows — optimization r20)
    val planted1 = spark.range(1, 7, 1, 1)
      .select((-$"id").as("pk"), lit("ZZ_PLANT").as("seg"),
        ($"id" + lit(1000000L)).as("cents"))
    val planted2 = planted1.filter($"cents" <= 1000003L)
    // materialized: the reserve fold consumes each state several times
    // (counts delta, per-side contributions, watermark join, rescan) —
    // unchecked, every pass re-runs the Cdc.apply compaction window
    // (measured 23.8 s -> ~1 s at sf0.1); the graph-family
    // localCheckpoint discipline, Bench GCs blocks between keys.
    // state₂ composed from the checkpointed base — apply(apply(s, w₁),
    // w₂) ≡ apply(s, w₁ ∪ w₂) for lsn-disjoint windows (the
    // q_cdc_incr_agg composition note); planted rows union AFTER the
    // base so the second apply never sees them. state₁ is a narrow
    // union over the checkpoint — its consumers re-run only that.
    val base1 = Cdc.apply(snap, log.filter($"lsn" <= cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .localCheckpoint()
    val state1 = base1.unionByName(planted1)
    val state2 = Cdc.apply(base1, log.filter($"lsn" > cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .unionByName(planted2).localCheckpoint()
    // diff and seed are independent given the checkpointed states —
    // overlap their materializations (guide §2.6; each underfills the
    // cluster on its own)
    val (diff, seed) = graft.ConfScope.par2(spark)(
      AggMaintain.diffImages(state1, state2,
        Seq("pk"), Seq("seg", "cents")).localCheckpoint(),
      MinMaxMaintain.fullMinMaxState(state1, Seq("seg"),
        Seq("cents"), k = 2).localCheckpoint())
    // stepped is consumed twice by rescanMerge (flagged + clean
    // branches) and is group-count-sized — checkpoint, don't recompute
    val stepped = MinMaxMaintain.deltaMinMax(seed, diff,
      Seq("seg"), Seq("cents"), k = 2).localCheckpoint()
    val clean = MinMaxMaintain.rescanMerge(stepped, state2, Seq("seg"),
      Seq("cents"), k = 2)
    MinMaxMaintain.exposedMinMax(clean, Seq("seg"), Seq("cents"))
      .select($"seg", $"cnt", $"min_cents", $"max_cents")
      .orderBy($"seg")
    }
  }

  /** Incremental TOP-N maintenance, oracled end-to-end: the maintained
    * reserve holds the top-K DISTINCT values with exact multiplicities,
    * so the grouped top-n (n ≤ K) is readable straight off the state —
    * the dashboard "top 3 balances per segment" list, delta-maintained
    * through the same non-invertible algebra q_cdc_incr_minmax
    * certifies (a deleted row may have been IN the top-n). Same
    * seg/cents rewrite and midpoint split; K=4, n=3; the planted
    * ZZ_PLANT group loses its top FIVE values against K=4 —
    * deterministic exhaustion, so the scoped-rescan path feeds the
    * exposed ranking too. DuckDB ranks the final state directly
    * (row_number over distinct values, descending); the hash match
    * proves ranking, multiplicity, truncation, and rescan compose. */
  def qCdcIncrTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val snap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_mktsegment".as("seg"),
      round($"c_acctbal" * 100).cast(LongType).as("cents"))
    val log = changeLog(spark, dir).select(
      $"lsn", $"pk", $"op",
      element_at(array(segs.map(lit): _*),
        ($"lsn" % 5 + 1).cast(IntegerType)).as("seg"),
      when($"lsn" % 7 === 0, lit(null).cast(LongType))
        .otherwise(round($"after_value" * 100).cast(LongType)).as("cents"))
    // fixture shuffles sized to the data + overlapped independent
    // checkpoints — the q_cdc_incr_minmax rationale (optimization r20)
    graft.ConfScope.withShufflePartitions(spark, 8) {
    val cut = log.agg(expr("max(lsn) DIV 2").as("cut")).head().getLong(0)
    // planted exhaustion group: eight values seeded, the top five gone
    // in the window — a K=4 reserve MUST empty and flag
    // ONE partition (the q_cdc_incr_minmax rationale)
    val planted1 = spark.range(1, 9, 1, 1)
      .select((-$"id").as("pk"), lit("ZZ_PLANT").as("seg"),
        ($"id" + lit(1000000L)).as("cents"))
    val planted2 = planted1.filter($"cents" <= 1000003L)
    // same materialization + state₂-composition rationale as
    // q_cdc_incr_minmax (each state feeds multiple reserve-fold
    // passes; the second apply folds only the upper window over the
    // checkpointed base)
    val base1 = Cdc.apply(snap, log.filter($"lsn" <= cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .localCheckpoint()
    val state1 = base1.unionByName(planted1)
    val state2 = Cdc.apply(base1, log.filter($"lsn" > cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .unionByName(planted2).localCheckpoint()
    val (diff, seed) = graft.ConfScope.par2(spark)(
      AggMaintain.diffImages(state1, state2,
        Seq("pk"), Seq("seg", "cents")).localCheckpoint(),
      MinMaxMaintain.fullMinMaxState(state1, Seq("seg"),
        Seq("cents"), k = 4).localCheckpoint())
    // stepped is consumed twice by rescanMerge (flagged + clean
    // branches) and is group-count-sized — checkpoint, don't recompute
    val stepped = MinMaxMaintain.deltaMinMax(seed, diff,
      Seq("seg"), Seq("cents"), k = 4).localCheckpoint()
    val clean = MinMaxMaintain.rescanMerge(stepped, state2, Seq("seg"),
      Seq("cents"), k = 4)
    MinMaxMaintain.exposedTopK(clean, Seq("seg"), "cents", n = 3)
      .select($"seg", $"rnk", $"v".as("cents"), $"m".as("n_rows"))
      .orderBy($"seg", $"rnk")
    }
  }

  /** Incremental COUNT DISTINCT maintenance, oracled end-to-end — the
    * third non-invertible aggregate, closed by RE-KEYING instead of a
    * reserve: distinct-count deltas don't compose (a deleted value may
    * or may not have been the last copy), but the per-(group, value)
    * MULTIPLICITY table is plain invertible counting — so maintain
    * THAT with the existing AggMaintain algebra and read the distinct
    * count as the group's surviving-row count. O(window) per step,
    * state sized by live distinct values (the honest cost; the reserve
    * trick cannot bound this one because every value is potentially
    * the last copy). Null values excluded on both engines (COUNT
    * DISTINCT semantics); the planted ZZ_PLANT group loses ONE copy of
    * a duplicated value — the count must NOT drop until the last copy
    * goes, exactly the case naive delta counting gets wrong. */
  def qCdcIncrDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val snap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_mktsegment".as("seg"),
      round($"c_acctbal" * 100).cast(LongType).as("cents"))
    val log = changeLog(spark, dir).select(
      $"lsn", $"pk", $"op",
      element_at(array(segs.map(lit): _*),
        ($"lsn" % 5 + 1).cast(IntegerType)).as("seg"),
      when($"lsn" % 7 === 0, lit(null).cast(LongType))
        .otherwise(round($"after_value" * 100).cast(LongType)).as("cents"))
    // fixture shuffles sized to the data — the q_cdc_incr_minmax
    // rationale (optimization r20)
    graft.ConfScope.withShufflePartitions(spark, 8) {
    val cut = log.agg(expr("max(lsn) DIV 2").as("cut")).head().getLong(0)
    // duplicate-value plant: one copy of 111 goes; 2 distinct remain
    val planted1 = Seq((-1L, 111L), (-2L, 111L), (-3L, 222L), (-4L, 222L))
      .toDF("pk", "cents").select($"pk", lit("ZZ_PLANT").as("seg"), $"cents")
    val planted2 = planted1.filter($"pk" =!= -2L)
    // null-cents rows dropped BEFORE the diff: a value going null is a
    // delete of its multiplicity entry, a null going valued an insert.
    // s₂ composed from the UNFILTERED checkpointed base (the
    // q_cdc_incr_agg composition note) — the null-cents filter applies
    // AFTER each apply, exactly where the direct computation applies it
    val base1 = Cdc.apply(snap, log.filter($"lsn" <= cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .localCheckpoint()
    val s1 = base1.unionByName(planted1).filter($"cents".isNotNull)
    val s2 = Cdc.apply(base1, log.filter($"lsn" > cut),
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
      .unionByName(planted2).filter($"cents".isNotNull).localCheckpoint()
    val m1 = AggMaintain.fullAggregate(s1, Seq("seg", "cents"), Seq.empty)
    val deltas = AggMaintain.deltaAggregate(
      AggMaintain.diffImages(s1, s2, Seq("pk"), Seq("seg", "cents")),
      Seq("seg", "cents"), Seq.empty)
    val maintained = AggMaintain.deltaApply(m1, deltas,
      Seq("seg", "cents"), Seq.empty)
    maintained.groupBy($"seg")
      .agg(count(lit(1)).as("n_distinct"), sum($"cnt").as("n_rows"))
      .orderBy($"seg")
    }
  }

  /** Change-log INVERSION / point-in-time rollback, oracled
    * end-to-end: apply the full log, then apply the window's
    * COMPENSATING events ([[Cdc.invertWindow]]) — the result must be
    * byte-identical to the state at the window start, which DuckDB
    * computes directly. The rewind every CDC product ships, proven as
    * algebra: restore-the-before-image per key, lsn remap descending
    * so one compacted apply lands each key on its window-start image.
    * Before images are synthesized the Debezium way (lag of the full
    * after image per key, seeded with the snapshot as lsn-0 creates so
    * a key's first real event carries its true pre-state). */
  def qCdcRollback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val snap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_mktsegment".as("seg"),
      round($"c_acctbal" * 100).cast(LongType).as("cents"))
    val log = changeLog(spark, dir).select(
      $"lsn", $"pk", $"op",
      element_at(array(segs.map(lit): _*),
        ($"lsn" % 5 + 1).cast(IntegerType)).as("seg"),
      when($"lsn" % 7 === 0, lit(null).cast(LongType))
        .otherwise(round($"after_value" * 100).cast(LongType)).as("cents"))
    // one agg job serves the midpoint AND the remap ceiling (was two)
    val maxLsn = log.agg(max($"lsn")).head().getLong(0)
    val cut = maxLsn / 2
    val imgT = "struct<seg:string,cents:bigint>"
    // full envelopes: snapshot seeded as lsn-0 creates, before = lag of
    // the after image per key (each event's after IS the state)
    val seeded = snap
      .select(lit(0L).as("lsn"), $"pk", lit("c").as("op"),
        struct($"seg", $"cents").as("after"))
      .unionByName(log.select($"lsn", $"pk", $"op",
        when($"op" === "d", lit(null).cast(imgT))
          .otherwise(struct($"seg", $"cents")).as("after")))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy($"pk").orderBy($"lsn")
    val env = seeded.withColumn("before", lag($"after", 1).over(wk))
    val invFlat = Cdc.invertWindow(env.filter($"lsn" > cut), "lsn", maxLsn)
      .select($"lsn", $"pk", $"op",
        $"after.seg".as("seg"), $"after.cents".as("cents"))
    val state2 = Cdc.apply(snap, log,
      Seq("pk"), "lsn", "op", Seq("seg", "cents")).drop("src")
    Cdc.apply(state2, invFlat, Seq("pk"), "lsn", "op", Seq("seg", "cents"))
      .drop("src")
      .orderBy($"pk")
  }

  /** Incremental JOIN maintenance, oracled end-to-end (the enrichment
    * sibling of q_cdc_incr_agg): fact (customer balances, fk derived
    * per event) and dim (nation, keys rewritten by their own log)
    * each split their change log at a DIFFERENT midpoint; the
    * maintained join = deltaApply(fullJoin(F₁, D₁), fact image diff,
    * changed dim keys, D₂) — the exact algebra JoinMaintain.
    * maintainJoin runs against table-backed CDFs — while the DuckDB
    * oracle LEFT-joins the two final states DIRECTLY. fk/dk range over
    * lsn%31 against nation's 25 keys, so dangling fks, dim inserts
    * that RESURRECT previously-unmatched fact rows, dim deletes that
    * orphan matched rows, and fact fk-retarget updates all occur; the
    * hash match proves every path of the delta-join algebra
    * cross-engine. Measures in integer cents (exact, order-free). */
  def qCdcIncrJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val factLog = changeLog(spark, dir).select(
      $"lsn", $"pk", $"op",
      when($"lsn" % 7 === 0, lit(null).cast(LongType))
        .otherwise(round($"after_value" * 100).cast(LongType)).as("cents"),
      ($"lsn" % 31).cast(LongType).as("fk"))
    val dimLog = changeLog(spark, dir).select(
      $"lsn", ($"lsn" % 31).cast(LongType).as("dk"), $"op",
      concat(lit("N"), ($"lsn" % 10).cast(StringType)).as("dname"))
    val factSnap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"),
      round($"c_acctbal" * 100).cast(LongType).as("cents"),
      $"c_nationkey".cast(LongType).as("fk"))
    val dimSnap = Tables.table(spark, dir, "nation").select(
      $"n_nationkey".cast(LongType).as("dk"), $"n_name".as("dname"))
    // fixture shuffles sized to the data (the q_cdc_incr_minmax
    // rationale, optimization r20)
    graft.ConfScope.withShufflePartitions(spark, 8) {
    // both logs carry the SAME lsn set (each derives from changeLog),
    // so one max(lsn) job serves both midpoints (was two head() jobs)
    val mxLsn = factLog.agg(max($"lsn")).head().getLong(0)
    val cutF = mxLsn / 2
    val cutD = mxLsn / 3
    def applyF(base: DataFrame, log: DataFrame) = Cdc.apply(base, log,
      Seq("pk"), "lsn", "op", Seq("cents", "fk")).drop("src")
    def applyD(base: DataFrame, log: DataFrame) = Cdc.apply(base, log,
      Seq("dk"), "lsn", "op", Seq("dname")).drop("src")
    // materialized: each state feeds the seed join AND an image diff
    // (fact2/dim2 also the delta apply) — unchecked, every consumer
    // re-runs the Cdc.apply compaction window (the q_cdc_incr_minmax
    // rationale; Bench GCs checkpoint blocks between keys). The ₂
    // states compose from the checkpointed ₁ states over the upper
    // windows (the q_cdc_incr_agg composition note). The fact and dim
    // chains are independent — their checkpoint materializations
    // overlap (guide §2.6).
    val (fact1, dim1) = graft.ConfScope.par2(spark)(
      applyF(factSnap, factLog.filter($"lsn" <= cutF)).localCheckpoint(),
      applyD(dimSnap, dimLog.filter($"lsn" <= cutD)).localCheckpoint())
    val (fact2, dim2) = graft.ConfScope.par2(spark)(
      applyF(fact1, factLog.filter($"lsn" > cutF)).localCheckpoint(),
      applyD(dim1, dimLog.filter($"lsn" > cutD)).localCheckpoint())
    val j1 = JoinMaintain.fullJoin(fact1, dim1, "pk", "fk", "dk",
      Seq("cents", "fk"), Seq("dname"))
    val factDiff = AggMaintain.diffImages(fact1, fact2,
      Seq("pk"), Seq("cents", "fk"))
    val dimKeys = AggMaintain.diffImages(dim1, dim2, Seq("dk"), Seq("dname"))
      .select($"dk")
    JoinMaintain.deltaApply(j1, factDiff, dimKeys, dim2,
        "pk", "fk", "dk", Seq("cents", "fk"), Seq("dname"))
      .select($"pk", $"cents", $"fk",
        col(JoinMaintain.markerCol("fk")).as("matched"), $"dname")
      .orderBy($"pk")
    }
  }

  /** TWO-HOP maintained-DAG algebra, oracled end-to-end — the
    * composition the streaming capstone runs per trigger (replica →
    * materialized join → aggregate-over-the-join), previously certified
    * only by DagStreamSpec's Spark-side recompute. Same fact/dim
    * fixture and midpoint splits as q_cdc_incr_join; the Spark side
    * maintains hop 1 with the join delta algebra (fact image diff +
    * changed dim keys against D₂), then maintains hop 2 by diffing the
    * MAINTAINED join states and pushing that diff through the
    * aggregate delta algebra — agg(J₁) ⊕ Δagg(diff(J₁, J₂ᵐ)) — while
    * the DuckDB oracle aggregates (fact₂ LEFT JOIN dim₂) DIRECTLY,
    * never seeing either intermediate. The hash match proves the two
    * delta algebras COMPOSE: every join-maintenance path (dangling
    * fks, dim inserts resurrecting unmatched rows, dim deletes
    * orphaning matched ones, fk retargets) flows through group
    * migration, null-measure tracking, and vanished-group filtering of
    * the aggregate hop. Cents are exact integers; the NULL dname
    * group (dangling fks) is a real group on both engines, ordered
    * NULLS FIRST explicitly. */
  def qCdcDag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val factLog = changeLog(spark, dir).select(
      $"lsn", $"pk", $"op",
      when($"lsn" % 7 === 0, lit(null).cast(LongType))
        .otherwise(round($"after_value" * 100).cast(LongType)).as("cents"),
      ($"lsn" % 31).cast(LongType).as("fk"))
    val dimLog = changeLog(spark, dir).select(
      $"lsn", ($"lsn" % 31).cast(LongType).as("dk"), $"op",
      concat(lit("N"), ($"lsn" % 10).cast(StringType)).as("dname"))
    val factSnap = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"),
      round($"c_acctbal" * 100).cast(LongType).as("cents"),
      $"c_nationkey".cast(LongType).as("fk"))
    val dimSnap = Tables.table(spark, dir, "nation").select(
      $"n_nationkey".cast(LongType).as("dk"), $"n_name".as("dname"))
    // fixture shuffles sized to the data; fact/dim chains overlapped
    // (the q_cdc_incr_join shape, optimization r20)
    graft.ConfScope.withShufflePartitions(spark, 8) {
    // one max(lsn) job serves both midpoints; the ₂ states compose
    // from the checkpointed ₁ states (q_cdc_incr_join's shape)
    val mxLsn = factLog.agg(max($"lsn")).head().getLong(0)
    val cutF = mxLsn / 2
    val cutD = mxLsn / 3
    def applyF(base: DataFrame, log: DataFrame) = Cdc.apply(base, log,
      Seq("pk"), "lsn", "op", Seq("cents", "fk")).drop("src")
    def applyD(base: DataFrame, log: DataFrame) = Cdc.apply(base, log,
      Seq("dk"), "lsn", "op", Seq("dname")).drop("src")
    val (fact1, dim1) = graft.ConfScope.par2(spark)(
      applyF(factSnap, factLog.filter($"lsn" <= cutF)).localCheckpoint(),
      applyD(dimSnap, dimLog.filter($"lsn" <= cutD)).localCheckpoint())
    val (fact2, dim2) = graft.ConfScope.par2(spark)(
      applyF(fact1, factLog.filter($"lsn" > cutF)).localCheckpoint(),
      applyD(dim1, dimLog.filter($"lsn" > cutD)).localCheckpoint())
    // hop 1: the maintained join (checkpointed — it feeds the hop-2
    // seed aggregate AND the hop-2 image diff)
    val j1 = JoinMaintain.fullJoin(fact1, dim1, "pk", "fk", "dk",
      Seq("cents", "fk"), Seq("dname")).localCheckpoint()
    val factDiff = AggMaintain.diffImages(fact1, fact2,
      Seq("pk"), Seq("cents", "fk"))
    val dimKeys = AggMaintain.diffImages(dim1, dim2, Seq("dk"), Seq("dname"))
      .select($"dk")
    val j2m = JoinMaintain.deltaApply(j1, factDiff, dimKeys, dim2,
      "pk", "fk", "dk", Seq("cents", "fk"), Seq("dname")).localCheckpoint()
    // hop 2: the maintained aggregate, fed by the diff of the
    // MAINTAINED join states — the DAG seam the streaming sink crosses
    val agg1 = AggMaintain.fullAggregate(j1, Seq("dname"), Seq("cents"))
    val joinDiff = AggMaintain.diffImages(j1, j2m,
      Seq("pk"), Seq("dname", "cents"))
    val deltas = AggMaintain.deltaAggregate(joinDiff,
      Seq("dname"), Seq("cents"))
    val maintained = AggMaintain.deltaApply(agg1, deltas,
      Seq("dname"), Seq("cents"))
    AggMaintain.exposed(maintained, Seq("dname"), Seq("cents"))
      .select($"dname", $"cnt", $"sum_cents",
        round($"avg_cents", 4).as("avg_cents"))
      .orderBy($"dname".asc_nulls_first)
    }
  }

  /** Pipeline observability: change counts by op per hour. */
  def qCdcAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    changeLog(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"op")
      .agg(count(lit(1)).as("n"), round(sum($"after_value"), 2).as("sum_value"))
      .orderBy($"hr", $"op")
  }

  /** Snapshot-vs-replica diff on a deterministically perturbed copy:
    * rows dropped (custkey%97=0), balances shifted (custkey%31=0), one
    * synthetic extra row — all three failure classes appear. The ghost
    * pk (9·10¹¹, here and in the repair/bucketed variants) is far out
    * of the customer key domain at ANY scale factor (keys reach
    * 150000·sf, so a collision needs sf ≈ 6·10⁶); a colliding ghost
    * would duplicate a real pk and row-multiply the full_outer diff
    * (ADVICE r13 — the old 999999 collided from roughly sf7). */
  def qCdcDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val balS = (c: org.apache.spark.sql.Column) =>
      c.cast(DecimalType(12, 2)).cast(StringType)
    val expected = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_name".as("name"),
      $"c_mktsegment".as("seg"), balS($"c_acctbal").as("bal_s"))
    val ghost = spark.createDataFrame(Seq((900000000000L, "ghost", "NONE", "0.00")))
      .toDF("pk", "name", "seg", "bal_s")
    val replica = Tables.table(spark, dir, "customer")
      .filter($"c_custkey" % 97 =!= 0)
      .select(
        $"c_custkey".as("pk"), $"c_name".as("name"), $"c_mktsegment".as("seg"),
        balS($"c_acctbal" +
          when($"c_custkey" % 31 === 0, 100.0).otherwise(0.0)).as("bal_s"))
      .unionByName(ghost)
    Cdc.diff(expected, replica, Seq("pk"), Seq("name", "seg", "bal_s"))
      .orderBy($"pk")
  }

  /** Divergence REPAIR plan on the q_cdc_diff fixture: the change
    * events that, applied to the drifted replica, restore it to the
    * expected state — detect→repair closed ([[Cdc.repairPlan]]): a
    * missing row repairs as an upsert of the expected image, an extra
    * row as a delete, a value drift as an upsert. The plan is
    * divergence-sized (never table-sized) and replayable through the
    * same apply path as any CDC window. The oracle re-derives the
    * plan with a direct value compare (IS DISTINCT FROM) — the hash
    * match certifies the fingerprint-based detection against the
    * plain-value ground truth. */
  def qCdcRepair(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val balS = (c: org.apache.spark.sql.Column) =>
      c.cast(DecimalType(12, 2)).cast(StringType)
    val expected = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_name".as("name"),
      $"c_mktsegment".as("seg"), balS($"c_acctbal").as("bal_s"))
    val ghost = spark.createDataFrame(Seq((900000000000L, "ghost", "NONE", "0.00")))
      .toDF("pk", "name", "seg", "bal_s")
    val replica = Tables.table(spark, dir, "customer")
      .filter($"c_custkey" % 97 =!= 0)
      .select(
        $"c_custkey".as("pk"), $"c_name".as("name"), $"c_mktsegment".as("seg"),
        balS($"c_acctbal" +
          when($"c_custkey" % 31 === 0, 100.0).otherwise(0.0)).as("bal_s"))
      .unionByName(ghost)
    Cdc.repairPlan(expected, replica, Seq("pk"),
        Seq("name", "seg", "bal_s"), lsnBase = 1000000L)
      .orderBy($"pk")
  }

  /** TWO-PHASE bucketed divergence localization, oracled end-to-end
    * ([[Cdc.diffBucketed]]) — the 100 TB form of q_cdc_diff: phase 1
    * compares ≤4096 per-bucket (count, order-free checksum) summaries,
    * phase 2 row-diffs ONLY the mismatched buckets. Divergences are
    * planted SPARSE (drift at pk%307, missing at pk%1013, one ghost)
    * so localization does real work: most buckets are clean and never
    * see a row join. The oracle replays BOTH phases in SQL — same md5
    * fingerprints, same bucket math, same mismatch rule — but its
    * phase-2 compare is value-based (IS DISTINCT FROM ground truth,
    * the q_cdc_diff convention), so the hash match certifies that
    * fingerprint-localization finds exactly the rows a direct value
    * compare would. */
  def qCdcDiffBucketed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val balS = (c: org.apache.spark.sql.Column) =>
      c.cast(DecimalType(12, 2)).cast(StringType)
    val expected = Tables.table(spark, dir, "customer").select(
      $"c_custkey".as("pk"), $"c_name".as("name"),
      $"c_mktsegment".as("seg"), balS($"c_acctbal").as("bal_s"))
    val ghost = spark.createDataFrame(Seq((900000000000L, "ghost", "NONE", "0.00")))
      .toDF("pk", "name", "seg", "bal_s")
    val replica = Tables.table(spark, dir, "customer")
      .filter($"c_custkey" % 1013 =!= 7)
      .select(
        $"c_custkey".as("pk"), $"c_name".as("name"), $"c_mktsegment".as("seg"),
        balS($"c_acctbal" +
          when($"c_custkey" % 307 === 11, 100.0).otherwise(0.0)).as("bal_s"))
      .unionByName(ghost)
    Cdc.diffBucketed(expected, replica, Seq("pk"),
        Seq("name", "seg", "bal_s"), nBuckets = 4096)
      .orderBy($"pk")
  }

  /** Transactional-outbox routing ([[Cdc.routeOutbox]] — the Debezium
    * outbox event-router pattern): an outbox frame derived in-query
    * from the change log (aggregate type keyed off pk%3, payload a
    * JSON template), with at-least-once REDELIVERY planted (every
    * lsn%37=0 message appears twice) — the router must dedup by
    * message id, route to the per-type topic, and stamp a
    * per-aggregate sequence. The oracle replays dedup + routing +
    * sequencing in SQL; the hash match certifies winner selection,
    * topic derivation, and the gap-free per-aggregate ordering. */
  def qCdcOutbox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val outbox0 = changeLog(spark, dir).select(
      $"lsn".as("msg_id"),
      when($"pk" % 3 === 0, "order")
        .when($"pk" % 3 === 1, "customer")
        .otherwise("shipment").as("agg_type"),
      $"pk".as("agg_id"), $"op", $"lsn",
      // DECIMAL(12,2) canonicalizes the double's string form (the
      // bal_s rule) — raw double→string formatting differs per engine
      concat(lit("{\"op\":\""), $"op", lit("\",\"v\":"),
        $"after_value".cast(DecimalType(12, 2)).cast(StringType),
        lit("}")).as("payload"))
    val outbox = outbox0.unionByName(outbox0.filter($"lsn" % 37 === 0))
    Cdc.routeOutbox(outbox, "msg_id", "agg_type", "agg_id", "lsn")
      .select($"topic", $"agg_id", $"agg_seq", $"op", $"payload")
      .orderBy($"topic", $"agg_id", $"agg_seq")
  }

  /** Order-insensitive per-table fingerprints (customer + orders). */
  def qCdcChecksum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.table(spark, dir, "customer").select(
      concat_ws("|", $"c_custkey", $"c_name", $"c_mktsegment",
        $"c_acctbal".cast(DecimalType(12, 2)).cast(StringType)).as("fp"))
    val ord = Tables.table(spark, dir, "orders").select(
      concat_ws("|", $"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(12, 2)).cast(StringType)).as("fp"))
    Cdc.checksum(cust, Seq("fp")).select(lit("customer").as("tbl"), $"checksum", $"n_rows")
      .unionByName(
        Cdc.checksum(ord, Seq("fp")).select(lit("orders").as("tbl"), $"checksum", $"n_rows"))
      .orderBy($"tbl")
  }

  /** Multi-master merge with deterministic conflict resolution — the
    * CDC reality a single-ordered-log apply (q_cdc_apply) cannot
    * express: two sites write the same keys concurrently and the
    * merged state must pick ONE winner per key by a total rule.
    * Rule: last-writer-wins on commit time, site priority breaks
    * clock ties (site b's clock is deliberately coarsened to the
    * minute so ties actually occur and the priority rung is
    * exercised), lsn breaks same-site ties — encoded as ONE argmax
    * `max(struct(ts, prio, lsn, …))`, the q_agg_mode shape: an
    * ordinary two-phase aggregate, no window, partial-combines
    * map-side so the shuffle carries one candidate per (partition,
    * key). `n_sites = 2` marks true cross-site conflicts. */
  def qCdcMergeMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
    val a = log.filter($"lsn" % 2 === 0).select($"pk", $"ts",
      lit(1L).as("prio"), $"lsn", lit("a").as("site"), $"op", $"after_value")
    val b = log.filter($"lsn" % 2 === 1).select($"pk",
      date_trunc("minute", $"ts").as("ts"),
      lit(2L).as("prio"), $"lsn", lit("b").as("site"), $"op", $"after_value")
    a.unionByName(b)
      .groupBy($"pk")
      .agg(
        max(struct($"ts", $"prio", $"lsn", $"site", $"op",
          $"after_value".as("v"))).as("w"),
        count(lit(1)).as("n_writes"),
        countDistinct($"site").as("n_sites"))
      .select($"pk", $"w.ts".as("w_ts"), $"w.site".as("w_site"),
        $"w.lsn".as("w_lsn"), $"w.op".as("op"), $"w.v".as("after_value"),
        $"n_writes", ($"n_sites" === 2).as("conflict"))
      .orderBy($"pk")
  }

  /** Change-log integrity check: lsn continuity + commit-time
    * monotonicity — the monitoring query every CDC consumer runs
    * before trusting a feed (a gap means lost events, a time
    * regression means a replayed/reordered chunk). Gaps are PLANTED
    * (lsn % 97 == 13 withheld) so the detector provably fires; the
    * time-regression arm fires on the organic log wherever commit ts
    * order disagrees with lsn order.
    *
    * Shape (r14 — was a single global lag window, the forbidden
    * serial sort once one shard's log outgrows a partition): TWO-LEVEL
    * lag. Rows bucket by `lsn DIV 4096`; the lag window partitions by
    * bucket (maximal parallelism — each bucket sorts independently),
    * and each bucket's FIRST row takes its predecessor from a
    * per-bucket (last lsn, last ts) summary — a bounded frame (≤
    * maxLsn/4096 rows) whose own lag window is the codebook-class
    * exception, broadcast back as the boundary patch. Empty buckets
    * (a gap spanning a whole bucket) fall out naturally: the summary
    * lag links each non-empty bucket to the previous NON-EMPTY one.
    * Row-for-row identical to the global-window form (the oracle
    * still computes one flat lag); output is anomaly-sized. */
  def qCdcGapDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = changeLog(spark, dir)
      .filter(!($"lsn" % 97 === 13))
      .select($"lsn", $"ts", expr("lsn DIV 4096").as("bkt"))
    val wIn = Window.partitionBy($"bkt").orderBy($"lsn")
    val inner = log
      .withColumn("prev_lsn", lag($"lsn", 1).over(wIn))
      .withColumn("prev_ts", lag($"ts", 1).over(wIn))
    val wB = Window.orderBy($"bkt") // bucket-summary frame: bounded
    val boundary = log.groupBy($"bkt")
      .agg(max(struct($"lsn", $"ts")).as("last"))
      .withColumn("p", lag($"last", 1).over(wB))
      .select($"bkt", $"p.lsn".as("p_lsn"), $"p.ts".as("p_ts"))
    inner.join(broadcast(boundary), Seq("bkt"), "left")
      .withColumn("prev_lsn", coalesce($"prev_lsn", $"p_lsn"))
      .withColumn("prev_ts", coalesce($"prev_ts", $"p_ts"))
      .withColumn("gap", $"lsn" - $"prev_lsn" - 1)
      .withColumn("ts_regression", $"ts" < $"prev_ts")
      .filter($"gap" > 0 || $"ts_regression")
      .select($"lsn", $"prev_lsn",
        when($"gap" > 0, $"gap").otherwise(0L).as("missing"),
        $"ts_regression")
      .orderBy($"lsn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_decode" -> (qCdcDecode _),
    "q_cdc_merge_multi" -> (qCdcMergeMulti _),
    "q_cdc_gap_detect" -> (qCdcGapDetect _),
    "q_cdc_decode_maxwell" -> (qCdcDecodeMaxwell _),
    "q_cdc_decode_avro" -> (qCdcDecodeAvro _),
    "q_cdc_badrecords" -> (qCdcBadrecords _),
    "q_cdc_snapshot" -> (qCdcSnapshot _),
    "q_cdc_snapshot_chunked" -> (qCdcSnapshotChunked _),
    "q_cdc_compact" -> (qCdcCompact _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_cdc_apply_txn" -> (qCdcApplyTxn _),
    "q_cdc_apply_sparse" -> (qCdcApplySparse _),
    "q_cdc_state_asof" -> (qCdcStateAsof _),
    "q_cdc_incr_agg" -> (qCdcIncrAgg _),
    "q_cdc_incr_minmax" -> (qCdcIncrMinmax _),
    "q_cdc_incr_topk" -> (qCdcIncrTopk _),
    "q_cdc_incr_distinct" -> (qCdcIncrDistinct _),
    "q_cdc_rollback" -> (qCdcRollback _),
    "q_cdc_incr_join" -> (qCdcIncrJoin _),
    "q_cdc_dag" -> (qCdcDag _),
    "q_cdc_scd2" -> (qCdcScd2 _),
    "q_cdc_scd2_incr" -> (qCdcScd2Incr _),
    "q_cdc_scd2_lookup" -> (qCdcScd2Lookup _),
    "q_cdc_audit" -> (qCdcAudit _),
    "q_cdc_diff" -> (qCdcDiff _),
    "q_cdc_diff_bucketed" -> (qCdcDiffBucketed _),
    "q_cdc_repair" -> (qCdcRepair _),
    "q_cdc_outbox" -> (qCdcOutbox _),
    "q_cdc_dlq_replay" -> (qCdcDlqReplay _),
    "q_cdc_evolve" -> (qCdcEvolve _),
    "q_cdc_checksum" -> (qCdcChecksum _)
  )

  val oracle: Map[String, String] = Map(
    // same planted lsn%97==13 gaps; lag window over the lsn order
    "q_cdc_gap_detect" ->
      s"""WITH $logCte,
        |vis AS (
        |  SELECT lsn, ts FROM log WHERE lsn % 97 != 13),
        |w AS (
        |  SELECT lsn, ts,
        |    lag(lsn) OVER (ORDER BY lsn) AS prev_lsn,
        |    lag(ts) OVER (ORDER BY lsn) AS prev_ts
        |  FROM vis)
        |SELECT lsn, prev_lsn,
        |  CASE WHEN lsn - prev_lsn - 1 > 0
        |       THEN lsn - prev_lsn - 1 ELSE 0 END AS missing,
        |  (ts < prev_ts) AS ts_regression
        |FROM w
        |WHERE lsn - prev_lsn - 1 > 0 OR ts < prev_ts
        |ORDER BY lsn""".stripMargin,
    // same LWW+priority+lsn total rule via DuckDB struct max;
    // field order in the struct IS the compare order
    "q_cdc_merge_multi" ->
      s"""WITH $logCte,
        |sites AS (
        |  SELECT pk, ts, 1 AS prio, lsn, 'a' AS site, op, after_value
        |  FROM log WHERE lsn % 2 = 0
        |  UNION ALL
        |  SELECT pk, date_trunc('minute', ts) AS ts, 2 AS prio, lsn,
        |    'b' AS site, op, after_value
        |  FROM log WHERE lsn % 2 = 1),
        |m AS (
        |  SELECT pk,
        |    max({'ts': ts, 'prio': prio, 'lsn': lsn, 'site': site,
        |         'op': op, 'v': after_value}) AS w,
        |    count(*) AS n_writes,
        |    count(DISTINCT site) AS n_sites
        |  FROM sites GROUP BY pk)
        |SELECT pk, w.ts AS w_ts, w.site AS w_site, w.lsn AS w_lsn,
        |  w.op AS op, w.v AS after_value, n_writes,
        |  (n_sites = 2) AS conflict
        |FROM m ORDER BY pk""".stripMargin,
    "q_cdc_decode_maxwell" ->
      s"""WITH $logCte,
        |env AS (
        |  SELECT lsn AS event_id, op AS op0,
        |    '{"database":"shop","table":"events","type":"' ||
        |    CASE op WHEN 'c' THEN 'insert' WHEN 'u' THEN 'update'
        |      ELSE 'delete' END ||
        |    '","ts":' || epoch(ts)::BIGINT || ',"xid":' || lsn ||
        |    ',"data":{"pk":' || pk || ',"v":' || after_value || '}' ||
        |    CASE WHEN op = 'u'
        |      THEN ',"old":{"v":' || (after_value + 1.0) || '}' ELSE '' END ||
        |    '}' AS j
        |  FROM log)
        |SELECT event_id,
        |  CASE json_extract_string(j, '$$.type')
        |    WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u'
        |    WHEN 'delete' THEN 'd' WHEN 'bootstrap-insert' THEN 'r'
        |    ELSE json_extract_string(j, '$$.type') END AS op,
        |  json_extract(j, '$$.data.pk')::BIGINT AS pk,
        |  json_extract(j, '$$.data.v')::DOUBLE AS v,
        |  json_extract(j, '$$.old.v')::DOUBLE AS old_v,
        |  json_extract_string(j, '$$.table') AS src_table,
        |  json_extract(j, '$$.xid')::BIGINT AS tx_id,
        |  json_extract(j, '$$.ts')::BIGINT * 1000 AS ts_ms
        |FROM env ORDER BY event_id""".stripMargin,
    // the oracle never sees a byte of Avro — it re-derives the
    // canonical envelope columns from the log directly, so the hash
    // match proves the Spark-side encode→decode is the identity
    "q_cdc_decode_avro" ->
      s"""WITH $logCte
        |SELECT op,
        |  CASE WHEN op != 'c' THEN pk END AS b_pk,
        |  CASE WHEN op != 'c' THEN after_value - 1.0 END AS b_v,
        |  CASE WHEN op != 'c' THEN 'old' END AS b_lbl,
        |  CASE WHEN op != 'd' THEN pk END AS a_pk,
        |  CASE WHEN op != 'd' THEN after_value END AS a_v,
        |  CASE WHEN op != 'd' THEN 'e' || lsn END AS a_lbl,
        |  'events' AS src_table, lsn,
        |  lsn * 1000 + 1700000000000 AS ts_ms
        |FROM log ORDER BY lsn""".stripMargin,
    "q_cdc_decode" ->
      s"""WITH $logCte,
        |env AS (
        |  SELECT lsn AS event_id,
        |    '{"op":"' || op || '","after":{"pk":' || pk || ',"v":' || after_value ||
        |    '},"source":{"table":"events","lsn":' || lsn ||
        |    '},"ts_ms":' || epoch(ts)::BIGINT * 1000 || '}' AS j
        |  FROM log)
        |SELECT event_id,
        |  json_extract_string(j, '$$.op') AS op,
        |  json_extract(j, '$$.after.pk')::BIGINT AS pk,
        |  json_extract(j, '$$.after.v')::DOUBLE AS v,
        |  json_extract_string(j, '$$.source.table') AS src_table,
        |  json_extract(j, '$$.source.lsn')::BIGINT AS lsn,
        |  json_extract(j, '$$.ts_ms')::BIGINT AS ts_ms
        |FROM env ORDER BY event_id""".stripMargin,
    "q_cdc_badrecords" ->
      s"""WITH $logCte,
        |kinded AS (
        |  SELECT *, CASE WHEN lsn % 13 = 0 THEN 'malformed'
        |                 WHEN lsn % 17 = 0 THEN 'badop'
        |                 WHEN lsn % 19 = 0 THEN 'nolsn'
        |                 ELSE 'ok' END AS kind
        |  FROM log),
        |env AS (
        |  SELECT kind,
        |    '{"op":"' || CASE WHEN kind = 'badop' THEN 'x' ELSE op END ||
        |    '","after":{"pk":' || pk || ',"v":' || after_value ||
        |    '},"source":{"table":"events","lsn":' ||
        |    CASE WHEN kind = 'nolsn' THEN 'null' ELSE lsn::VARCHAR END ||
        |    '},"ts_ms":' || epoch(ts)::BIGINT * 1000 || '}' AS j0
        |  FROM kinded),
        |raw AS (
        |  SELECT CASE WHEN kind = 'malformed' THEN substr(j0, 1, length(j0) - 1)
        |              ELSE j0 END AS j
        |  FROM env),
        |-- malformed rows must be FILTERED OUT before any json_extract
        |-- runs: DuckDB's json functions THROW on malformed input even
        |-- under a CASE guard (vectorized eval), unlike Spark's null-out
        |mal AS (
        |  SELECT 'malformed_json' AS failure_class
        |  FROM raw WHERE j IS NULL OR NOT json_valid(j)),
        |cls AS (
        |  SELECT CASE
        |    WHEN json_extract_string(j, '$$.op') IS NULL THEN 'missing_op'
        |    WHEN json_extract_string(j, '$$.op')
        |      NOT IN ('c','u','d','r','s','t') THEN 'invalid_op'
        |    WHEN json_extract_string(j, '$$.source.lsn') IS NULL THEN 'missing_lsn'
        |    ELSE 'ok' END AS failure_class
        |  FROM raw WHERE j IS NOT NULL AND json_valid(j)),
        |unioned AS (SELECT * FROM mal UNION ALL SELECT * FROM cls)
        |SELECT failure_class, count(*)::BIGINT AS n
        |FROM unioned GROUP BY failure_class ORDER BY failure_class""".stripMargin,
    "q_cdc_snapshot" ->
      s"""WITH $logCte
        |SELECT -1 AS lsn, c_custkey AS pk, 'r' AS op, c_acctbal AS after_value
        |FROM customer
        |UNION ALL
        |SELECT lsn, pk, op, after_value FROM log
        |ORDER BY pk, lsn""".stripMargin,
    "q_cdc_snapshot_chunked" ->
      s"""WITH $logCte,
        |snap AS (SELECT c_custkey AS pk, c_acctbal AS val FROM customer),
        |spec AS (
        |  SELECT i AS chunk, ((i + 1) * (SELECT max(lsn) FROM log)) // 4 AS wm
        |  FROM range(4) t(i)),
        |union_src AS (
        |  SELECT pk, val, -1 AS lsn, 'r' AS op FROM snap
        |  UNION ALL SELECT pk, after_value AS val, lsn, op FROM log),
        |chunk_latest AS (
        |  SELECT c.chunk, c.wm, u.pk, u.val, u.lsn, u.op
        |  FROM spec c JOIN union_src u ON u.pk % 4 = c.chunk AND u.lsn <= c.wm
        |  QUALIFY row_number() OVER (PARTITION BY c.chunk, u.pk ORDER BY u.lsn DESC) = 1),
        |chunk_state AS (SELECT pk, val, wm FROM chunk_latest WHERE op != 'd'),
        |merged AS (
        |  SELECT pk, val, wm AS lsn, 'r' AS op, 1 AS prio FROM chunk_state
        |  UNION ALL SELECT pk, after_value AS val, lsn, op, 0 AS prio FROM log)
        |SELECT pk, val FROM merged
        |QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC, prio DESC) = 1
        |  AND op != 'd'
        |ORDER BY pk""".stripMargin,
    "q_cdc_compact" ->
      s"""WITH $logCte
        |SELECT pk, lsn, op, after_value FROM log
        |QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1
        |ORDER BY pk""".stripMargin,
    "q_cdc_apply_txn" ->
      s"""WITH $logCte,
        |ev AS (
        |  SELECT lsn, pk, op, after_value AS val,
        |    CASE WHEN lsn % 5 = 0 THEN NULL ELSE lsn // 7 END AS tx
        |  FROM log),
        |committed AS (
        |  SELECT DISTINCT tx FROM ev WHERE tx IS NOT NULL AND tx % 3 != 0),
        |visible AS (
        |  SELECT * FROM ev
        |  WHERE tx IS NULL OR tx IN (SELECT tx FROM committed)),
        |latest AS (
        |  SELECT * FROM visible
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |snap AS (SELECT c_custkey AS pk, c_acctbal AS val FROM customer)
        |SELECT coalesce(s.pk, l.pk) AS pk,
        |  CASE WHEN l.pk IS NOT NULL THEN l.val ELSE s.val END AS val,
        |  CASE WHEN l.pk IS NOT NULL THEN 'log' ELSE 'snapshot' END AS src
        |FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |WHERE l.pk IS NULL OR l.op != 'd'
        |ORDER BY pk""".stripMargin,
    "q_cdc_apply" ->
      s"""WITH $logCte,
        |latest AS (
        |  SELECT * FROM log
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |snap AS (SELECT c_custkey AS pk, c_acctbal AS val FROM customer)
        |SELECT coalesce(s.pk, l.pk) AS pk,
        |  CASE WHEN l.pk IS NOT NULL THEN l.after_value ELSE s.val END AS val,
        |  CASE WHEN l.pk IS NOT NULL THEN 'log' ELSE 'snapshot' END AS src
        |FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |WHERE l.pk IS NULL OR l.op != 'd'
        |ORDER BY pk""".stripMargin,
    "q_cdc_state_asof" ->
      s"""WITH $logCte,
        |cut AS (SELECT max(lsn) // 2 AS cut FROM log),
        |flog AS (SELECT l.* FROM log l CROSS JOIN cut WHERE l.lsn <= cut.cut),
        |latest AS (
        |  SELECT * FROM flog
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |snap AS (SELECT c_custkey AS pk, c_acctbal AS val FROM customer)
        |SELECT coalesce(s.pk, l.pk) AS pk,
        |  CASE WHEN l.pk IS NOT NULL THEN l.after_value ELSE s.val END AS val,
        |  CASE WHEN l.pk IS NOT NULL THEN 'log' ELSE 'snapshot' END AS src
        |FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |WHERE l.pk IS NULL OR l.op != 'd'
        |ORDER BY pk""".stripMargin,
    // barrier closed-form mirrors Cdc.applySparse (struct-wrapping keeps
    // arg_max from conflating "no override" with "override to NULL");
    // validated against an independent event-by-event fold
    "q_cdc_apply_sparse" ->
      """WITH log AS (
        |  SELECT event_id AS lsn, user_id AS pk,
        |    CASE event_type WHEN 'signup' THEN 'c'
        |                    WHEN 'error'  THEN 'd'
        |                    ELSE 'u' END AS op,
        |    value, event_type
        |  FROM events),
        |img AS (
        |  SELECT lsn, pk, op,
        |    CASE WHEN op = 'd' THEN '{}'
        |         WHEN op = 'c' THEN '{"v":' || value || ',"lbl":"' || event_type || '"}'
        |         ELSE '{' || concat_ws(',',
        |           CASE WHEN lsn % 3 != 0 THEN '"v":' ||
        |             CASE WHEN lsn % 7 = 0 THEN 'null' ELSE value::VARCHAR END END,
        |           CASE WHEN lsn % 5 != 0 THEN '"lbl":' ||
        |             CASE WHEN lsn % 11 = 0 THEN 'null' ELSE '"' || event_type || '"' END END)
        |         || '}' END AS j
        |  FROM log),
        |slog AS (
        |  SELECT lsn, pk, op,
        |    json_extract(j, '$.v')::DOUBLE AS v,
        |    list_contains(json_keys(j), 'v') AS v_present,
        |    json_extract_string(j, '$.lbl') AS lbl,
        |    list_contains(json_keys(j), 'lbl') AS lbl_present
        |  FROM img),
        |snap AS (SELECT c_custkey AS pk, c_acctbal AS v, c_mktsegment AS lbl FROM customer),
        |b AS (
        |  SELECT pk,
        |    max(lsn) FILTER (WHERE op IN ('c','r','d')) AS barrier_lsn,
        |    arg_max(op, lsn) AS last_op,
        |    arg_max(op, lsn) FILTER (WHERE op IN ('c','r','d')) AS barrier_op
        |  FROM slog GROUP BY pk),
        |m AS (
        |  SELECT s.pk,
        |    any_value(b.last_op) AS last_op,
        |    any_value(b.barrier_op) AS barrier_op,
        |    arg_max(struct_pack(x := s.v), s.lsn) FILTER (WHERE s.op = 'u' AND s.v_present
        |      AND (b.barrier_lsn IS NULL OR s.lsn > b.barrier_lsn)) AS ov_v,
        |    arg_max(struct_pack(x := s.v), s.lsn) FILTER (WHERE s.op IN ('c','r')
        |      AND s.lsn = b.barrier_lsn) AS base_v,
        |    arg_max(struct_pack(x := s.lbl), s.lsn) FILTER (WHERE s.op = 'u' AND s.lbl_present
        |      AND (b.barrier_lsn IS NULL OR s.lsn > b.barrier_lsn)) AS ov_lbl,
        |    arg_max(struct_pack(x := s.lbl), s.lsn) FILTER (WHERE s.op IN ('c','r')
        |      AND s.lsn = b.barrier_lsn) AS base_lbl
        |  FROM slog s JOIN b USING (pk) GROUP BY s.pk)
        |SELECT coalesce(sn.pk, m.pk) AS pk,
        |  CASE WHEN m.pk IS NULL THEN sn.v
        |       WHEN m.ov_v IS NOT NULL THEN m.ov_v.x
        |       WHEN m.barrier_op IN ('c','r') THEN m.base_v.x
        |       WHEN m.barrier_op = 'd' THEN NULL
        |       ELSE sn.v END AS v,
        |  CASE WHEN m.pk IS NULL THEN sn.lbl
        |       WHEN m.ov_lbl IS NOT NULL THEN m.ov_lbl.x
        |       WHEN m.barrier_op IN ('c','r') THEN m.base_lbl.x
        |       WHEN m.barrier_op = 'd' THEN NULL
        |       ELSE sn.lbl END AS lbl
        |FROM snap sn FULL OUTER JOIN m ON sn.pk = m.pk
        |WHERE m.pk IS NULL OR m.last_op != 'd'
        |ORDER BY pk""".stripMargin,
    // the oracle aggregates the final state DIRECTLY — the Spark side
    // composes agg(state1) with the state1→state2 image-diff deltas, so
    // a hash match proves the delta algebra, not just the aggregation
    "q_cdc_incr_agg" ->
      s"""WITH $logCte,
        |seglog AS (
        |  SELECT lsn, pk, op,
        |    ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
        |      [(lsn % 5 + 1)::INTEGER] AS seg,
        |    CASE WHEN lsn % 7 = 0 THEN NULL
        |         ELSE round(after_value * 100)::BIGINT END AS cents
        |  FROM log),
        |snap AS (SELECT c_custkey AS pk, c_mktsegment AS seg,
        |  round(c_acctbal * 100)::BIGINT AS cents FROM customer),
        |latest AS (
        |  SELECT * FROM seglog
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |state2 AS (
        |  SELECT coalesce(s.pk, l.pk) AS pk,
        |    CASE WHEN l.pk IS NOT NULL THEN l.seg ELSE s.seg END AS seg,
        |    CASE WHEN l.pk IS NOT NULL THEN l.cents ELSE s.cents END AS cents
        |  FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |  WHERE l.pk IS NULL OR l.op != 'd')
        |SELECT seg, count(*)::BIGINT AS cnt, sum(cents)::BIGINT AS sum_cents,
        |  round((sum(cents)::BIGINT)::DOUBLE / count(cents), 4) AS avg_cents
        |FROM state2 GROUP BY seg ORDER BY seg""".stripMargin,
    // the oracle takes min/max over the final state DIRECTLY — the
    // Spark side composes seeded K=2 reserves with the image-diff
    // window and a scoped rescan of exhausted groups, so the hash
    // match proves the non-invertible extreme maintenance algebra
    "q_cdc_incr_minmax" ->
      s"""WITH $logCte,
        |seglog AS (
        |  SELECT lsn, pk, op,
        |    ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
        |      [(lsn % 5 + 1)::INTEGER] AS seg,
        |    CASE WHEN lsn % 7 = 0 THEN NULL
        |         ELSE round(after_value * 100)::BIGINT END AS cents
        |  FROM log),
        |snap AS (SELECT c_custkey AS pk, c_mktsegment AS seg,
        |  round(c_acctbal * 100)::BIGINT AS cents FROM customer),
        |latest AS (
        |  SELECT * FROM seglog
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |state2 AS (
        |  SELECT coalesce(s.pk, l.pk) AS pk,
        |    CASE WHEN l.pk IS NOT NULL THEN l.seg ELSE s.seg END AS seg,
        |    CASE WHEN l.pk IS NOT NULL THEN l.cents ELSE s.cents END AS cents
        |  FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |  WHERE l.pk IS NULL OR l.op != 'd'),
        |state2p AS (
        |  SELECT pk, seg, cents FROM state2
        |  UNION ALL
        |  SELECT -i, 'ZZ_PLANT', (i + 1000000)::BIGINT
        |  FROM range(1, 4) t(i))
        |SELECT seg, count(*)::BIGINT AS cnt,
        |  min(cents) AS min_cents, max(cents) AS max_cents
        |FROM state2p GROUP BY seg ORDER BY seg""".stripMargin,
    // the oracle ranks the FINAL state's distinct values directly —
    // the Spark side reads the top-n off the delta-maintained reserve
    // (K=4 here; the planted group exhausts it to force the rescan
    // path through the exposed ranking too)
    "q_cdc_incr_topk" ->
      s"""WITH $logCte,
        |seglog AS (
        |  SELECT lsn, pk, op,
        |    ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
        |      [(lsn % 5 + 1)::INTEGER] AS seg,
        |    CASE WHEN lsn % 7 = 0 THEN NULL
        |         ELSE round(after_value * 100)::BIGINT END AS cents
        |  FROM log),
        |snap AS (SELECT c_custkey AS pk, c_mktsegment AS seg,
        |  round(c_acctbal * 100)::BIGINT AS cents FROM customer),
        |latest AS (
        |  SELECT * FROM seglog
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |state2 AS (
        |  SELECT coalesce(s.pk, l.pk) AS pk,
        |    CASE WHEN l.pk IS NOT NULL THEN l.seg ELSE s.seg END AS seg,
        |    CASE WHEN l.pk IS NOT NULL THEN l.cents ELSE s.cents END AS cents
        |  FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |  WHERE l.pk IS NULL OR l.op != 'd'),
        |state2p AS (
        |  SELECT pk, seg, cents FROM state2
        |  UNION ALL
        |  SELECT -i, 'ZZ_PLANT', (i + 1000000)::BIGINT
        |  FROM range(1, 4) t(i)),
        |vals AS (
        |  SELECT seg, cents, count(*)::BIGINT AS n_rows
        |  FROM state2p WHERE cents IS NOT NULL GROUP BY seg, cents),
        |ranked AS (
        |  SELECT seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY cents DESC)::BIGINT
        |      AS rnk,
        |    cents, n_rows
        |  FROM vals)
        |SELECT seg, rnk, cents, n_rows FROM ranked
        |WHERE rnk <= 3 ORDER BY seg, rnk""".stripMargin,
    // the oracle counts DISTINCT over the final state directly — the
    // Spark side maintains the re-keyed (group, value) multiplicity
    // table through the delta algebra and reads the distinct count off
    // its surviving rows (the duplicate-value plant proves the
    // last-copy discipline)
    "q_cdc_incr_distinct" ->
      s"""WITH $logCte,
        |seglog AS (
        |  SELECT lsn, pk, op,
        |    ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
        |      [(lsn % 5 + 1)::INTEGER] AS seg,
        |    CASE WHEN lsn % 7 = 0 THEN NULL
        |         ELSE round(after_value * 100)::BIGINT END AS cents
        |  FROM log),
        |snap AS (SELECT c_custkey AS pk, c_mktsegment AS seg,
        |  round(c_acctbal * 100)::BIGINT AS cents FROM customer),
        |latest AS (
        |  SELECT * FROM seglog
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |state2 AS (
        |  SELECT coalesce(s.pk, l.pk) AS pk,
        |    CASE WHEN l.pk IS NOT NULL THEN l.seg ELSE s.seg END AS seg,
        |    CASE WHEN l.pk IS NOT NULL THEN l.cents ELSE s.cents END AS cents
        |  FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |  WHERE l.pk IS NULL OR l.op != 'd'),
        |state2p AS (
        |  SELECT pk, seg, cents FROM state2
        |  UNION ALL
        |  SELECT * FROM (VALUES (-1, 'ZZ_PLANT', 111), (-3, 'ZZ_PLANT', 222),
        |    (-4, 'ZZ_PLANT', 222)) v(pk, seg, cents))
        |SELECT seg, count(DISTINCT cents)::BIGINT AS n_distinct,
        |  count(cents)::BIGINT AS n_rows
        |FROM state2p WHERE cents IS NOT NULL
        |GROUP BY seg ORDER BY seg""".stripMargin,
    // the oracle computes the WINDOW-START state directly — the Spark
    // side rolls the final state BACK through the compensating events,
    // so the hash match proves the inversion algebra (before-image
    // restore, delete-on-absent, descending lsn remap + compaction)
    "q_cdc_rollback" ->
      s"""WITH $logCte,
        |seglog AS (
        |  SELECT lsn, pk, op,
        |    ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
        |      [(lsn % 5 + 1)::INTEGER] AS seg,
        |    CASE WHEN lsn % 7 = 0 THEN NULL
        |         ELSE round(after_value * 100)::BIGINT END AS cents
        |  FROM log),
        |snap AS (SELECT c_custkey AS pk, c_mktsegment AS seg,
        |  round(c_acctbal * 100)::BIGINT AS cents FROM customer),
        |cut AS (SELECT max(lsn) // 2 AS c FROM seglog),
        |latest AS (
        |  SELECT * FROM seglog WHERE lsn <= (SELECT c FROM cut)
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1)
        |SELECT coalesce(s.pk, l.pk) AS pk,
        |  CASE WHEN l.pk IS NOT NULL THEN l.seg ELSE s.seg END AS seg,
        |  CASE WHEN l.pk IS NOT NULL THEN l.cents ELSE s.cents END AS cents
        |FROM snap s FULL OUTER JOIN latest l ON s.pk = l.pk
        |WHERE l.pk IS NULL OR l.op != 'd'
        |ORDER BY pk""".stripMargin,
    // the oracle LEFT-joins the two final states DIRECTLY — the Spark
    // side composes fullJoin(F₁, D₁) with both change windows through
    // the delta-join algebra, so a hash match proves the maintenance
    // composes (fact upsert/delete/fk-retarget, dim insert/update/
    // delete, dangling-fk resurrection) — not just the join
    "q_cdc_incr_join" ->
      s"""WITH $logCte,
        |flog AS (
        |  SELECT lsn, pk, op,
        |    CASE WHEN lsn % 7 = 0 THEN NULL
        |         ELSE round(after_value * 100)::BIGINT END AS cents,
        |    (lsn % 31)::BIGINT AS fk
        |  FROM log),
        |dlog AS (
        |  SELECT lsn, (lsn % 31)::BIGINT AS dk, op,
        |    'N' || (lsn % 10)::VARCHAR AS dname
        |  FROM log),
        |fsnap AS (SELECT c_custkey AS pk,
        |  round(c_acctbal * 100)::BIGINT AS cents,
        |  c_nationkey::BIGINT AS fk FROM customer),
        |dsnap AS (SELECT n_nationkey::BIGINT AS dk, n_name AS dname
        |  FROM nation),
        |flatest AS (SELECT * FROM flog
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |fact2 AS (
        |  SELECT coalesce(s.pk, l.pk) AS pk,
        |    CASE WHEN l.pk IS NOT NULL THEN l.cents ELSE s.cents END AS cents,
        |    CASE WHEN l.pk IS NOT NULL THEN l.fk ELSE s.fk END AS fk
        |  FROM fsnap s FULL OUTER JOIN flatest l ON s.pk = l.pk
        |  WHERE l.pk IS NULL OR l.op != 'd'),
        |dlatest AS (SELECT * FROM dlog
        |  QUALIFY row_number() OVER (PARTITION BY dk ORDER BY lsn DESC) = 1),
        |dim2 AS (
        |  SELECT coalesce(s.dk, l.dk) AS dk,
        |    CASE WHEN l.dk IS NOT NULL THEN l.dname ELSE s.dname END AS dname
        |  FROM dsnap s FULL OUTER JOIN dlatest l ON s.dk = l.dk
        |  WHERE l.dk IS NULL OR l.op != 'd')
        |SELECT f.pk, f.cents, f.fk, (d.dk IS NOT NULL) AS matched, d.dname
        |FROM fact2 f LEFT JOIN dim2 d ON f.fk = d.dk
        |ORDER BY f.pk""".stripMargin,
    // the oracle aggregates (fact2 LEFT JOIN dim2) DIRECTLY — the
    // Spark side threads both final states through TWO composed delta
    // algebras (join maintenance, then aggregate maintenance over the
    // maintained join's own diff), so the hash match certifies the
    // whole two-hop DAG chain
    "q_cdc_dag" ->
      s"""WITH $logCte,
        |flog AS (
        |  SELECT lsn, pk, op,
        |    CASE WHEN lsn % 7 = 0 THEN NULL
        |         ELSE round(after_value * 100)::BIGINT END AS cents,
        |    (lsn % 31)::BIGINT AS fk
        |  FROM log),
        |dlog AS (
        |  SELECT lsn, (lsn % 31)::BIGINT AS dk, op,
        |    'N' || (lsn % 10)::VARCHAR AS dname
        |  FROM log),
        |fsnap AS (SELECT c_custkey AS pk,
        |  round(c_acctbal * 100)::BIGINT AS cents,
        |  c_nationkey::BIGINT AS fk FROM customer),
        |dsnap AS (SELECT n_nationkey::BIGINT AS dk, n_name AS dname
        |  FROM nation),
        |flatest AS (SELECT * FROM flog
        |  QUALIFY row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) = 1),
        |fact2 AS (
        |  SELECT coalesce(s.pk, l.pk) AS pk,
        |    CASE WHEN l.pk IS NOT NULL THEN l.cents ELSE s.cents END AS cents,
        |    CASE WHEN l.pk IS NOT NULL THEN l.fk ELSE s.fk END AS fk
        |  FROM fsnap s FULL OUTER JOIN flatest l ON s.pk = l.pk
        |  WHERE l.pk IS NULL OR l.op != 'd'),
        |dlatest AS (SELECT * FROM dlog
        |  QUALIFY row_number() OVER (PARTITION BY dk ORDER BY lsn DESC) = 1),
        |dim2 AS (
        |  SELECT coalesce(s.dk, l.dk) AS dk,
        |    CASE WHEN l.dk IS NOT NULL THEN l.dname ELSE s.dname END AS dname
        |  FROM dsnap s FULL OUTER JOIN dlatest l ON s.dk = l.dk
        |  WHERE l.dk IS NULL OR l.op != 'd'),
        |joined AS (
        |  SELECT f.pk, f.cents, d.dname
        |  FROM fact2 f LEFT JOIN dim2 d ON f.fk = d.dk)
        |SELECT dname, count(*)::BIGINT AS cnt,
        |  sum(cents)::BIGINT AS sum_cents,
        |  round((sum(cents)::BIGINT)::DOUBLE / count(cents), 4) AS avg_cents
        |FROM joined GROUP BY dname
        |ORDER BY dname NULLS FIRST""".stripMargin,
    "q_cdc_scd2" ->
      s"""WITH $logCte
        |SELECT pk, lsn, op, after_value, ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  (lead(ts) OVER w IS NULL) AS is_current
        |FROM log
        |WINDOW w AS (PARTITION BY pk ORDER BY lsn ASC)
        |ORDER BY pk, lsn""".stripMargin,
    // the oracle derives the history from the FULL log — the Spark side
    // composes first-half history with the chained batch, so the hash
    // match proves the incremental upkeep algebra
    "q_cdc_scd2_incr" ->
      s"""WITH $logCte
        |SELECT pk, lsn, op, after_value, ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  (lead(ts) OVER w IS NULL) AS is_current
        |FROM log
        |WINDOW w AS (PARTITION BY pk ORDER BY lsn ASC)
        |ORDER BY pk, lsn""".stripMargin,
    "q_cdc_scd2_lookup" ->
      s"""WITH $logCte,
        |hist AS (
        |  SELECT pk, lsn, op, after_value, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY pk ORDER BY lsn ASC) AS valid_to
        |  FROM log),
        |b AS (SELECT epoch(min(ts))::BIGINT AS mn, epoch(max(ts))::BIGINT AS mx
        |      FROM log),
        |probes AS (
        |  SELECT pk, i AS probe_idx,
        |    to_timestamp(b.mn + (i * (b.mx - b.mn)) // 4)::TIMESTAMP AS pt
        |  FROM (SELECT DISTINCT pk FROM log) CROSS JOIN b CROSS JOIN range(1, 4) t(i))
        |SELECT p.pk, p.probe_idx, p.pt, h.lsn, h.op, h.after_value
        |FROM probes p JOIN hist h
        |  ON p.pk = h.pk AND h.valid_from <= p.pt
        |  AND (h.valid_to IS NULL OR p.pt < h.valid_to)
        |ORDER BY p.pk, p.probe_idx""".stripMargin,
    "q_cdc_audit" ->
      s"""WITH $logCte
        |SELECT date_trunc('hour', ts) AS hr, op,
        |  count(*) AS n, round(sum(after_value), 2) AS sum_value
        |FROM log GROUP BY hr, op ORDER BY hr, op""".stripMargin,
    "q_cdc_diff" ->
      """WITH exp AS (
        |  SELECT c_custkey AS pk, c_name AS name, c_mktsegment AS seg,
        |    c_acctbal::DECIMAL(12,2)::VARCHAR AS bal_s
        |  FROM customer),
        |rep AS (
        |  SELECT c_custkey AS pk, c_name AS name, c_mktsegment AS seg,
        |    (c_acctbal + CASE WHEN c_custkey % 31 = 0 THEN 100.0 ELSE 0.0 END)
        |      ::DECIMAL(12,2)::VARCHAR AS bal_s
        |  FROM customer WHERE c_custkey % 97 != 0
        |  UNION ALL SELECT 900000000000, 'ghost', 'NONE', '0.00'),
        |j AS (
        |  SELECT coalesce(e.pk, r.pk) AS pk,
        |    md5(concat(
        |      CASE WHEN e.name IS NULL THEN '∅' ELSE length(e.name)::VARCHAR || ':' || e.name END,
        |      CASE WHEN e.seg IS NULL THEN '∅' ELSE length(e.seg)::VARCHAR || ':' || e.seg END,
        |      CASE WHEN e.bal_s IS NULL THEN '∅' ELSE length(e.bal_s)::VARCHAR || ':' || e.bal_s END)) AS e_fp,
        |    md5(concat(
        |      CASE WHEN r.name IS NULL THEN '∅' ELSE length(r.name)::VARCHAR || ':' || r.name END,
        |      CASE WHEN r.seg IS NULL THEN '∅' ELSE length(r.seg)::VARCHAR || ':' || r.seg END,
        |      CASE WHEN r.bal_s IS NULL THEN '∅' ELSE length(r.bal_s)::VARCHAR || ':' || r.bal_s END)) AS a_fp,
        |    e.pk AS epk, r.pk AS rpk
        |  FROM exp e FULL OUTER JOIN rep r ON e.pk = r.pk)
        |SELECT pk,
        |  CASE WHEN rpk IS NULL THEN 'missing_in_replica'
        |       WHEN epk IS NULL THEN 'extra_in_replica'
        |       WHEN e_fp != a_fp THEN 'mismatch'
        |       ELSE 'equal' END AS status
        |FROM j
        |WHERE NOT (rpk IS NOT NULL AND epk IS NOT NULL AND e_fp = a_fp)
        |ORDER BY pk""".stripMargin,
    // closed form: w non-null exactly for keys last touched past the
    // DDL cut; v parse-back equals the DECIMAL value on both engines
    "q_cdc_evolve" ->
      """WITH log AS (
        |  SELECT event_id AS lsn, user_id AS pk,
        |    CASE event_type WHEN 'signup' THEN 'c'
        |                    WHEN 'error'  THEN 'd'
        |                    ELSE 'u' END AS op,
        |    value AS after_value
        |  FROM events),
        |mx AS (SELECT max(lsn) AS mx FROM log),
        |last AS (
        |  SELECT pk, lsn, op, after_value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY pk
        |      ORDER BY lsn DESC) AS rn FROM log) WHERE rn = 1),
        |snap AS (SELECT c_custkey AS pk, c_acctbal AS v FROM customer)
        |SELECT coalesce(s.pk, l.pk) AS pk,
        |  CASE WHEN l.pk IS NOT NULL
        |       THEN l.after_value::DECIMAL(12,2)::DOUBLE
        |       ELSE s.v END AS v,
        |  CASE WHEN l.pk IS NOT NULL AND l.lsn > (SELECT mx // 2 FROM mx)
        |       THEN l.pk * 10 + l.lsn % 7 END AS w,
        |  CASE WHEN l.pk IS NOT NULL THEN 'log' ELSE 'snapshot' END AS src
        |FROM snap s FULL OUTER JOIN last l ON s.pk = l.pk
        |WHERE l.pk IS NULL OR l.op <> 'd'
        |ORDER BY pk""".stripMargin,
    // closed form: the repair (re-append the brace) recovers exactly
    // the malformed class with its ORIGINAL op/pk/value — the oracle
    // derives the recoverable set independently of any JSON machinery
    "q_cdc_dlq_replay" ->
      """WITH log AS (
        |  SELECT event_id AS lsn, user_id AS pk,
        |    CASE event_type WHEN 'signup' THEN 'c'
        |                    WHEN 'error'  THEN 'd'
        |                    ELSE 'u' END AS op,
        |    value AS after_value
        |  FROM events)
        |SELECT lsn, op, pk, after_value AS v
        |FROM log WHERE lsn % 13 = 0
        |ORDER BY lsn""".stripMargin,
    // dedup winner + topic + per-aggregate sequencing replayed in SQL
    "q_cdc_outbox" ->
      """WITH log AS (
        |  SELECT event_id AS lsn, user_id AS pk,
        |    CASE event_type WHEN 'signup' THEN 'c'
        |                    WHEN 'error'  THEN 'd'
        |                    ELSE 'u' END AS op,
        |    value AS after_value
        |  FROM events),
        |outbox0 AS (
        |  SELECT lsn AS msg_id,
        |    CASE WHEN pk % 3 = 0 THEN 'order'
        |         WHEN pk % 3 = 1 THEN 'customer'
        |         ELSE 'shipment' END AS agg_type,
        |    pk AS agg_id, op, lsn,
        |    concat('{"op":"', op, '","v":',
        |      after_value::DECIMAL(12,2)::VARCHAR, '}') AS payload
        |  FROM log),
        |outbox AS (
        |  SELECT * FROM outbox0
        |  UNION ALL SELECT * FROM outbox0 WHERE lsn % 37 = 0),
        |deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY msg_id
        |      ORDER BY lsn ASC) AS rn FROM outbox)
        |  WHERE rn = 1)
        |SELECT concat('outbox.event.', agg_type) AS topic, agg_id,
        |  row_number() OVER (PARTITION BY agg_type, agg_id
        |    ORDER BY lsn ASC) AS agg_seq,
        |  op, payload
        |FROM deduped
        |ORDER BY topic, agg_id, agg_seq""".stripMargin,
    // direct value compare (IS DISTINCT FROM) — certifies the
    // fingerprint-based detection against plain-value ground truth
    "q_cdc_repair" ->
      """WITH exp AS (
        |  SELECT c_custkey AS pk, c_name AS name, c_mktsegment AS seg,
        |    c_acctbal::DECIMAL(12,2)::VARCHAR AS bal_s
        |  FROM customer),
        |rep AS (
        |  SELECT c_custkey AS pk, c_name AS name, c_mktsegment AS seg,
        |    (c_acctbal + CASE WHEN c_custkey % 31 = 0 THEN 100.0 ELSE 0.0 END)
        |      ::DECIMAL(12,2)::VARCHAR AS bal_s
        |  FROM customer WHERE c_custkey % 97 != 0
        |  UNION ALL SELECT 900000000000, 'ghost', 'NONE', '0.00')
        |SELECT coalesce(e.pk, r.pk) AS pk, 1000000::BIGINT AS lsn,
        |  CASE WHEN e.pk IS NULL THEN 'd' ELSE 'u' END AS op,
        |  e.name, e.seg, e.bal_s
        |FROM exp e FULL OUTER JOIN rep r ON e.pk = r.pk
        |WHERE e.pk IS NULL OR r.pk IS NULL
        |   OR (e.name, e.seg, e.bal_s) IS DISTINCT FROM (r.name, r.seg, r.bal_s)
        |ORDER BY pk""".stripMargin,
    // both phases replayed in SQL — same md5 fingerprints, bucket
    // math, and mismatch rule — but phase 2 compares VALUES (IS
    // DISTINCT FROM ground truth, the q_cdc_diff convention), so the
    // match certifies fingerprint-localization against a direct
    // value compare
    "q_cdc_diff_bucketed" ->
      """WITH expected AS (
        |  SELECT c_custkey AS pk, c_name AS name, c_mktsegment AS seg,
        |    c_acctbal::DECIMAL(12,2)::VARCHAR AS bal_s
        |  FROM customer),
        |replica AS (
        |  SELECT c_custkey AS pk, c_name AS name, c_mktsegment AS seg,
        |    (c_acctbal + CASE WHEN c_custkey % 307 = 11
        |                      THEN 100.0 ELSE 0.0 END)
        |      ::DECIMAL(12,2)::VARCHAR AS bal_s
        |  FROM customer WHERE c_custkey % 1013 != 7
        |  UNION ALL SELECT 900000000000, 'ghost', 'NONE', '0.00'),
        |esum AS (
        |  SELECT ('0x' || substr(md5(length(pk::VARCHAR)::VARCHAR || ':'
        |      || pk::VARCHAR), 1, 7))::BIGINT % 4096 AS bucket,
        |    count(*) AS en,
        |    sum(('0x' || substr(md5(
        |      length(pk::VARCHAR)::VARCHAR || ':' || pk::VARCHAR ||
        |      length(name)::VARCHAR || ':' || name ||
        |      length(seg)::VARCHAR || ':' || seg ||
        |      length(bal_s)::VARCHAR || ':' || bal_s),
        |      1, 8))::BIGINT)::BIGINT AS ec
        |  FROM expected GROUP BY 1),
        |asum AS (
        |  SELECT ('0x' || substr(md5(length(pk::VARCHAR)::VARCHAR || ':'
        |      || pk::VARCHAR), 1, 7))::BIGINT % 4096 AS bucket,
        |    count(*) AS an,
        |    sum(('0x' || substr(md5(
        |      length(pk::VARCHAR)::VARCHAR || ':' || pk::VARCHAR ||
        |      length(name)::VARCHAR || ':' || name ||
        |      length(seg)::VARCHAR || ':' || seg ||
        |      length(bal_s)::VARCHAR || ':' || bal_s),
        |      1, 8))::BIGINT)::BIGINT AS ac
        |  FROM replica GROUP BY 1),
        |bad AS (
        |  SELECT coalesce(e.bucket, a.bucket) AS bucket
        |  FROM esum e FULL OUTER JOIN asum a ON e.bucket = a.bucket
        |  WHERE e.en IS DISTINCT FROM a.an
        |     OR e.ec IS DISTINCT FROM a.ac),
        |ep AS (
        |  SELECT * FROM expected
        |  WHERE ('0x' || substr(md5(length(pk::VARCHAR)::VARCHAR || ':'
        |    || pk::VARCHAR), 1, 7))::BIGINT % 4096
        |    IN (SELECT bucket FROM bad)),
        |ap AS (
        |  SELECT * FROM replica
        |  WHERE ('0x' || substr(md5(length(pk::VARCHAR)::VARCHAR || ':'
        |    || pk::VARCHAR), 1, 7))::BIGINT % 4096
        |    IN (SELECT bucket FROM bad)),
        |d AS (
        |  SELECT coalesce(e.pk, a.pk) AS pk,
        |    CASE WHEN a.pk IS NULL THEN 'missing_in_replica'
        |         WHEN e.pk IS NULL THEN 'extra_in_replica'
        |         WHEN (e.name, e.seg, e.bal_s) IS DISTINCT FROM
        |              (a.name, a.seg, a.bal_s) THEN 'mismatch'
        |         ELSE 'equal' END AS status
        |  FROM ep e FULL OUTER JOIN ap a ON e.pk = a.pk)
        |SELECT pk, status,
        |  ('0x' || substr(md5(length(pk::VARCHAR)::VARCHAR || ':'
        |    || pk::VARCHAR), 1, 7))::BIGINT % 4096 AS bucket
        |FROM d WHERE status != 'equal' ORDER BY pk""".stripMargin,
    "q_cdc_checksum" ->
      """SELECT 'customer' AS tbl,
        |  sum(('0x' || substr(md5(length(fp)::VARCHAR || ':' || fp), 1, 8))::BIGINT)::BIGINT AS checksum,
        |  count(*) AS n_rows
        |FROM (SELECT concat_ws('|', c_custkey, c_name, c_mktsegment,
        |        c_acctbal::DECIMAL(12,2)::VARCHAR) AS fp FROM customer)
        |UNION ALL
        |SELECT 'orders' AS tbl,
        |  sum(('0x' || substr(md5(length(fp)::VARCHAR || ':' || fp), 1, 8))::BIGINT)::BIGINT AS checksum,
        |  count(*) AS n_rows
        |FROM (SELECT concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
        |        o_totalprice::DECIMAL(12,2)::VARCHAR) AS fp FROM orders)
        |ORDER BY tbl""".stripMargin
  )
}
