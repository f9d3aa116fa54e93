package perfbench

import java.io.File
import java.math.MathContext

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.Tables
import graft.functions.TextUdf
import graft.ops.llm.{CorpusPipeline, DedupCluster, LlmQueries, LlmQueries2, NearDup, QualityFilters}
import graft.ops.relational._

/** query_sweep: passes over a fixed sample of the keys in the query maps
  * of `graft.ops.relational`, `graft.ops.llm` and `graft.functions`, on
  * the small [[Fixtures]] tables, each pass in its own order drawn from the
  * seed (so a run's per-key times average over orders). Many distinct
  * short plans stress Catalyst, codegen and the fixed cost per Spark job;
  * the LLM keys run the near-duplicate, DedupCluster and text-function
  * operators. Each key's result must hash to the reference in
  * perfbench/sweep_reference.json. After each key comes a point read or
  * (every other key) a full aggregate over the tables through
  * `graft.Tables`, so reads spread over the whole run. A traced run also times
  * the public `graft.ops.llm` stage calls and `CorpusPipeline` once. */
object QuerySweep extends Workload {
  type Query = (SparkSession, String) => DataFrame

  /** The query maps, by module. Scans is left out: its keys write
    * fixtures. */
  val modules: ListMap[String, Map[String, Query]] = ListMap(
    "LlmQueries" -> LlmQueries.queries, "LlmQueries2" -> LlmQueries2.queries,
    "QualityFilters" -> QualityFilters.queries, "TextUdf" -> TextUdf.queries,
    "Aggregations" -> Aggregations.queries, "Basics" -> Basics.queries,
    "Composed" -> Composed.queries, "Composed2" -> Composed2.queries,
    "FuzzyJoin" -> FuzzyJoin.queries, "Graph" -> Graph.queries,
    "Joins" -> Joins.queries, "Resample" -> Resample.queries,
    "Scalars" -> Scalars.queries, "Scalars2" -> Scalars2.queries,
    "SetOps" -> SetOps.queries, "SortLimit" -> SortLimit.queries,
    "Subqueries" -> Subqueries.queries, "Windows" -> Windows.queries)

  /** The sampled keys: plans of a few operators from the larger
    * relational modules, an LLM-data key and a Scala UDF, each returning
    * rows on the fixture tables. The sample is fixed, so the seed changes
    * the order of the work and not the work. */
  val Sample: Seq[String] = Seq(
    "q_agg_basic", "q_join_asof", "q_window_ranking", "q_graph_degree_hist",
    "q_topk_global", "q_llm_minhash", "q_udf_scalar")
  val ReferenceFile = "perfbench/sweep_reference.json"
  /** Passes before the measured ones, as warm-up: codegen'd plans take
    * several passes to reach compiled speed. Counted as attempted, not
    * sampled. */
  val WarmPasses = 3
  /** Seconds one pass with its reads takes on a 4-core host: sizes the
    * measured loop. */
  val PassS = 3.0

  /** Reference hashes by key, from [[ReferenceFile]] under the checkout. */
  def reference(): Map[String, String] = {
    val f = new File(ReferenceFile)
    if (!f.isFile) Map.empty
    else Main.json.readTree(f).get("keys").properties().asScala
      .map(e => e.getKey -> e.getValue.get("sha256").asText).toMap
  }

  def sample: Seq[(String, String)] =
    Sample.map(k => modules.collectFirst { case (m, qs) if qs.contains(k) => (m, k) }.get)

  private def canon(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new MathContext(6)).stripTrailingZeros.toString

  /** A value as text: doubles to six significant digits (the order of a
    * parallel sum may change the last bits), nested values in order, map
    * entries sorted. */
  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canon(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Hash of a result: its column names, then its rows as text, sorted. */
  def resultHash(columns: Seq[String], rows: Array[Row]): String =
    Workload.sha256(Iterator(columns.mkString(",")) ++ rows.map(render).sorted.iterator)

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], seed: Long): Seq[T] = {
    val r = new java.util.SplittableRandom(seed)
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ops = new Ops
    val checks = mutable.ArrayBuffer.empty[Check]
    val tr = ctx.tracer

    val ((dir, tables), setupS, genCheck) = Workload.repeatedSetup(3) { i =>
      val d = ctx.dir(s"query_sweep/tables$i")
      val (ts, hash) = Fixtures.write(spark, d)
      ((d, ts), hash)
    }
    checks += genCheck
    ctx.phase("setup")
    if (ctx.record.nonEmpty) return record(ctx, dir, ctx.record.get, checks.toSeq, setupS)

    val ref = reference()
    val keys = sample
    def order(i: Int): Seq[(String, String)] = shuffled(keys, ctx.seed * 1000003L + i)
    val noRef = keys.map(_._2).filterNot(ref.contains)
    checks += Check("reference_present", noRef.isEmpty,
      s"keys without a hash in $ReferenceFile: ${noRef.mkString(",")}")
    val mismatched = mutable.LinkedHashSet.empty[String]
    // per measured pass i: seconds by key, result rows
    val keyTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]
    val passRows = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val moduleS = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    // point reads and aggregates over the tables the queries read
    val byName = tables.map(t => t._1 -> t._3).toMap
    val orders = byName("orders")
    val lines = byName("lineitem")
    val wantAgg = (lines.size.toLong, lines.map(_.getDouble(4)).sum)
    val rr = new java.util.SplittableRandom(ctx.seed + 41)
    var readMismatch = 0
    def pointRead(): Unit = {
      val want = orders(rr.nextInt(orders.size))
      ops.timed("point_read")(Tables.table(spark, dir, "orders")
        .filter(col("o_orderkey") === want.getLong(0)).collect())
        .foreach(rows => if (rows.map(render).toSeq != Seq(render(want))) readMismatch += 1)
    }
    def scan(): Unit =
      ops.timed("scan")(Tables.table(spark, dir, "lineitem")
        .agg(count(lit(1)), sum(col("l_quantity"))).collect())
        .foreach(rows => if ((rows(0).getLong(0), rows(0).getDouble(1)) != wantAgg) readMismatch += 1)

    /** One pass over the sampled keys, each followed by a point read or an
      * aggregate; returns the pass's query seconds. */
    def pass(i: Int): Double = order(i).zipWithIndex.map { case ((m, k), j) =>
      val t0 = System.nanoTime()
      def body(): (Seq[String], Array[Row]) = {
        val df = modules(m)(k)(spark, dir)
        (df.columns.toSeq, df.collect())
      }
      val res = tr match {
        case None => ops.timed("query")(body())
        case Some(t) => ops.timed("query")(t.op(k)(body())._1)
      }
      val s = (System.nanoTime() - t0) / 1e9
      res.foreach { case (cols, rows) =>
        if (!ref.get(k).contains(resultHash(cols, rows))) mismatched += k
        if (i >= 0) passRows(i) += rows.length
      }
      if (i >= 0) {
        keyTimes.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += (i -> s)
        moduleS(m) += s
      }
      if (j % 2 == 0) pointRead() else scan()
      s
    }.sum

    (1 to WarmPasses).foreach(i => pass(-i))
    ctx.phase("warm_up")
    tr.foreach(_.opTraces.clear())
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val lp = Workload.loop(ctx.seconds, PassS, ops)(i => passTimes += pass(i))
    val passes = lp.rounds
    ctx.phase("measure")
    val liveHeapMb = LiveHeap.mb()
    checks += Check("results_match_reference", mismatched.isEmpty,
      s"${mismatched.size} of ${keys.size} keys differ: ${mismatched.mkString(",")}")
    checks += Check("reads_match_tables", readMismatch == 0, s"$readMismatch mismatches")

    def measured(kind: String): Seq[Double] = ops.measured(kind, lp.quiet)
    val fixtureRows = tables.map(_._3.size.toLong).sum
    val e2e = ListMap(
      "setup_s" -> setupS,
      "live_heap_mb" -> liveHeapMb,
      // a pass at each key's median time: steadier than the median of a
      // few whole passes
      "op_p50_s" -> keyTimes.values.map(xs => Stats.median(xs.collect {
        case (i, s) if lp.quiet(i) => s
      }.toSeq)).sum,
      "read_p50_s" -> Stats.median(measured("point_read")),
      "scan_p50_s" -> Stats.median(measured("scan")),
      "rows_per_s" -> lp.quiet.toSeq.map(passRows).sum / measured("query").sum,
      "bytes_per_row" -> Workload.files(dir).values.sum.toDouble / fixtureRows)

    val layers: Map[String, Double] = tr.map { t =>
      Layers.common(t.opTraces.toSeq, passes, 0.0) ++
        moduleS.map { case (m, s) => s"sweep.${m}_s" -> s / passes } ++
        llmStages(ctx, t, dir)
    }.getOrElse(Map.empty)

    Outcome(checks.toSeq, ops, e2e, layers,
      ListMap("passes" -> passes, "quiet_passes" -> lp.quiet.toSeq.sorted,
        "pass_steal_share" -> lp.steal, "pass_s" -> passTimes.toSeq, "first_order" -> order(0).map(_._2),
        "result_rows_per_pass" -> passRows.values.sum / math.max(1, passes),
        "key_p50_s" -> ListMap(keyTimes.toSeq.map { case (k, xs) => k -> Stats.median(xs.map(_._2).toSeq) }: _*)))
  }

  /** Times the public `graft.ops.llm` stage calls once over the fixture
    * documents: MinHash signatures, LSH banding, exact Jaccard, the
    * DedupCluster loop, then `CorpusPipeline.prepare` and `writeShards`. */
  private def llmStages(ctx: Ctx, t: Tracer, dir: String): Map[String, Double] = {
    val docs = Tables.table(ctx.spark, dir, "documents")
    def stage[T](name: String)(body: => T): T = t.span(name)(body)
    val sets = NearDup.tokenSets(docs, "doc_id", "text").cache()
    sets.count()
    val sig = stage("llm.minhash") {
      val s = NearDup.minHashSignatures(sets, 32).cache()
      s.count()
      s
    }
    val (cand, dropped) = stage("llm.lsh") {
      val (c, d) = NearDup.lshCandidatesWithStats(sig, 8, 4)
      val cc = c.cache()
      cc.count()
      (cc, d.count())
    }
    val edges = stage("llm.verify") {
      val e = NearDup.exactJaccard(cand, sets).filter(col("jaccard") >= 0.8).cache()
      e.count()
      e
    }
    t.drain()
    val j0 = t.counters.jobs
    stage("llm.cluster")(DedupCluster.connectedComponents(edges, "doc_a", "doc_b").count())
    t.drain()
    val clusterJobs = t.counters.jobs - j0
    val nCand = cand.count()
    val nEdges = edges.count()
    Seq(sets, sig, cand, edges).foreach(_.unpersist())
    val kept = stage("llm.prepare") {
      val k = CorpusPipeline.prepare(docs, "doc_id", "text", "source").cache()
      k.count()
      k
    }
    stage("llm.shards")(CorpusPipeline.writeShards(kept, ctx.dir("query_sweep/shards"),
      "doc_id", "redacted", "source", 4000).collect())
    val docsOut = kept.count()
    kept.unpersist()
    Map(
      "llm.minhash_ms" -> t.spanMs("llm.minhash"),
      "llm.lsh_ms" -> t.spanMs("llm.lsh"),
      "llm.verify_ms" -> t.spanMs("llm.verify"),
      "llm.cluster_ms" -> t.spanMs("llm.cluster"),
      "llm.prepare_ms" -> t.spanMs("llm.prepare"),
      "llm.shards_ms" -> t.spanMs("llm.shards"),
      "llm.candidate_pairs" -> nCand.toDouble,
      "llm.verified_edges" -> nEdges.toDouble,
      "llm.lsh_precision" -> nEdges.toDouble / math.max(1L, nCand),
      "llm.dropped_buckets" -> dropped.toDouble,
      "llm.docs_out" -> docsOut.toDouble,
      "llm.cluster_jobs" -> clusterJobs.toDouble)
  }

  /** Runs every key twice, in two orders, and writes the reference file:
    * per key its module, row count and result hash. A key whose two
    * results differ, or that fails, gets no hash. */
  private def record(ctx: Ctx, dir: String, file: String, checks: Seq[Check],
                     setupS: Double): Outcome = {
    val ops = new Ops
    val all = modules.toSeq.flatMap { case (m, qs) => qs.keys.toSeq.sorted.map(k => (m, k)) }
    def once(seed: Long): Map[String, (Int, String, Double)] =
      shuffled(all, seed).flatMap { case (m, k) =>
        val t0 = System.nanoTime()
        ops.timed(k) {
          val df = modules(m)(k)(ctx.spark, dir)
          val rows = df.collect()
          (rows.length, resultHash(df.columns.toSeq, rows))
        }.map { case (n, h) => k -> (n, h, (System.nanoTime() - t0) / 1e9) }
      }.toMap
    val a = once(1)
    val b = once(2)
    val entries = all.map { case (m, k) =>
      val stable = a.get(k).map(_._2) == b.get(k).map(_._2) && a.contains(k)
      k -> (ListMap[String, Any]("module" -> m) ++
        (if (stable) ListMap("rows" -> a(k)._1, "sha256" -> a(k)._2, "warm_s" -> b(k)._3)
         else ListMap("unstable" -> true)))
    }
    Main.json.writerWithDefaultPrettyPrinter().writeValue(new File(file), ListMap(
      "about" -> ("Reference result hashes of the graft.ops.relational query keys on " +
        "the perfbench Fixtures tables: column names, then rows rendered with doubles to " +
        "six significant digits, sorted, sha256. Keys without a hash failed or gave " +
        "two different results in two runs."),
      "fixture_seed" -> Fixtures.Seed,
      "keys" -> ListMap(entries: _*)))
    Outcome(checks, ops, ListMap("setup_s" -> setupS), Map.empty,
      ListMap("recorded" -> entries.size))
  }
}
