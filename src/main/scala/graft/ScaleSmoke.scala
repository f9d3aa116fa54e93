package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale smoke: synthesizes a ~10× corpus (sf≈1: 6M lineitem / 1.5M
  * orders / 1M events / 50k docs / 20k embeddings) from sf0.1 by
  * key-shifted replication (join semantics preserved), then times the
  * heavy operators to verify the plans hold at 10× data — the
  * empirical check behind the 100 TB design claims.
  * Usage: sbt "runMain graft.ScaleSmoke [factor] [workDir]" */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val work = args.lift(1).getOrElse("/tmp/graft_scale")
    // 64 shuffle partitions on 32 cores
    val spark = GraftSession.builder(64).master("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val src = "/root/testdata/sf0.1"

    def replicate(df: DataFrame, keyCols: Map[String, Long]): DataFrame = {
      val reps = explode(sequence(lit(0), lit(factor - 1))).as("__rep")
      keyCols.foldLeft(df.select(col("*"), reps)) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("__rep") * stride)
      }.drop("__rep")
        // spread output over many files: a single ~50 MB parquet file
        // reads as ONE task and serializes every downstream map stage
        // (observed: 36 s single-threaded dedup before this)
        .repartition(32)
    }

    if (!new java.io.File(s"$work/lineitem.parquet").exists) {
      println(s"[gen] materializing ${factor}x corpus at $work")
      replicate(Tables.table(spark, src, "lineitem"),
        Map("l_orderkey" -> 1000000L, "l_partkey" -> 100000L, "l_suppkey" -> 10000L))
        .write.mode("overwrite").parquet(s"$work/lineitem.parquet")
      replicate(Tables.table(spark, src, "orders"),
        Map("o_orderkey" -> 1000000L, "o_custkey" -> 100000L))
        .write.mode("overwrite").parquet(s"$work/orders.parquet")
      replicate(Tables.table(spark, src, "customer"), Map("c_custkey" -> 100000L))
        .write.mode("overwrite").parquet(s"$work/customer.parquet")
      replicate(Tables.table(spark, src, "part"), Map("p_partkey" -> 100000L))
        .write.mode("overwrite").parquet(s"$work/part.parquet")
      replicate(Tables.table(spark, src, "supplier"), Map("s_suppkey" -> 10000L))
        .write.mode("overwrite").parquet(s"$work/supplier.parquet")
      replicate(Tables.table(spark, src, "events"),
        Map("event_id" -> 10000000L, "user_id" -> 100000L))
        .write.mode("overwrite").parquet(s"$work/events.parquet")
      replicate(Tables.table(spark, src, "documents"), Map("doc_id" -> 1000000L))
        .write.mode("overwrite").parquet(s"$work/documents.parquet")
      replicate(Tables.table(spark, src, "embeddings"), Map("vec_id" -> 1000000L))
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
      Seq("region", "nation").foreach(t =>
        Tables.table(spark, src, t).write.mode("overwrite").parquet(s"$work/$t.parquet"))
    }

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
    }
    // warmup
    Tables.table(spark, work, "lineitem").count()

    time("agg_basic (6M)") {
      ops.relational.Aggregations.qAggBasic(spark, work).count() }
    time("join_sortmerge (1.5M x 150k)") {
      ops.relational.Joins.qJoinSortmerge(spark, work).count() }
    time("join_broadcast (6M x 200k)") {
      ops.relational.Joins.qJoinBroadcast(spark, work).count() }
    time("topk_per_group (1.5M)") {
      ops.relational.Windows.qTopkPerGroup(spark, work).count() }
    time("cdc_apply (150k x 1M)") {
      ops.cdc.CdcQueries.qCdcApply(spark, work).count() }
    time("llm_dedup_exact (50k docs)") {
      ops.llm.LlmQueries.qLlmDedupExact(spark, work).count() }
    time("minhash_neardups (50k docs)") {
      // the production pipeline shape: exact dedup FIRST so identical-
      // text clusters (10x replication here; boilerplate at real scale)
      // never reach LSH banding — without this, mega-buckets make
      // candidate generation quadratic (observed: >20 min vs seconds)
      functions.NormalizeText.register(spark)
      val docs = Tables.table(spark, work, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"h").orderBy($"doc_id")
      val uniq = docs
        .withColumn("h",
          sha2(functions.NormalizeText.normalize_native($"text"), 256))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("h", "rn")
      ops.llm.NearDup.minHashNearDups(uniq, "doc_id", "text").count() }
    time("knn 100q x 20k corpus") {
      val emb = Tables.table(spark, work, "embeddings")
      ops.llm.Knn.bruteForceTopK(emb.filter($"vec_id" < 100), emb, 5).count() }
    time("asof join (events 1M)") {
      ops.relational.Joins.qJoinAsof(spark, work).count() }
    time("chunked snapshot (1.5M x 1M)") {
      ops.cdc.CdcQueries.qCdcSnapshotChunked(spark, work).count() }
    time("ivf build+search (20k, k=16)") {
      val emb = Tables.table(spark, work, "embeddings")
      val cents = ops.llm.Knn.ivfCentroids(emb, dim = 64, k = 16, iters = 3)
      ops.llm.Knn.ivfTopK(emb.filter($"vec_id" < 100), emb, cents,
        k = 5, nprobe = 4).count() }
    time("ivf_index persisted (20k)") {
      // build-once / search-many: assignments stored by centroid id, a
      // search reads only its probed cid partitions via the manifest
      val dir = s"$work/ivf_index"
      val emb = Tables.table(spark, work, "embeddings")
      if (!new java.io.File(s"$dir/_manifests").exists)
        ops.llm.IvfIndex.build(emb.select($"vec_id", $"embedding"), dir,
          dim = 64, k = 16, iters = 3)
      ops.llm.IvfIndex.search(spark, dir,
        emb.filter($"vec_id" < 100), k = 5, nprobe = 4).count() }
    time("dedup_cluster (50k docs)") {
      // r5 family: shingle edges over adjacent ids + hash-min components
      ops.llm.LlmQueries2.qLlmDedupCluster(spark, work).count() }
    time("contamination (50k docs)") {
      ops.llm.LlmQueries2.qLlmContamination(spark, work).count() }
    time("quantize+pii+sample (50k)") {
      // the narrow trio in one pass — per-row cost only, no shuffle
      ops.llm.LlmQueries2.qLlmQuantize(spark, work).count() +
        ops.llm.LlmQueries2.qLlmPii(spark, work).count() +
        ops.llm.LlmQueries2.qLlmSample(spark, work).count() }
    time("corpus_pipeline e2e (50k)") {
      // the capstone: scrub → quality → exact-dedup → MinHash cluster →
      // sample → split, end to end on the 10x-replicated corpus (the
      // replication makes exact-dedup-first do real work before LSH)
      val docs = Tables.table(spark, work, "documents")
        .select($"doc_id", $"text", $"lang")
      ops.llm.CorpusPipeline.prepare(docs, "doc_id", "text", "lang",
        ops.llm.CorpusPipeline.Config(
          sampleRatesPct = Map("en" -> 60), defaultSamplePct = 25)).count() }

    time("hist_dedup init (50k corpus)") {
      // bucket-partitioned corpus table keyed by content hash — the
      // accumulated-history side of streaming exact dedup
      val dir = s"$work/hist_corpus"
      if (!new java.io.File(s"$dir/_manifests").exists)
        streaming.HistoricalDedup.initCorpus(
          Tables.table(spark, work, "documents").select($"doc_id", $"text"),
          dir, "doc_id", "text", nBuckets = 64)
      ops.cdc.PartitionedUpsert.read(spark, dir).count() }
    time("hist_dedup batch vs history") {
      // the per-trigger path: a 200-doc batch (100 re-crawls of corpus
      // docs + 100 genuinely new) probes the 50k-doc table; the history
      // read is bounded by the batch's bucket fan-out (<= 64 buckets
      // here regardless of corpus size), never a corpus scan
      import streaming.HistoricalDedup
      val dir = s"$work/hist_corpus"
      val docs100 = Tables.table(spark, work, "documents")
        .filter($"doc_id" < 100)
      val batch = docs100
        .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
        .unionByName(docs100.select(($"doc_id" + 20000000L).as("doc_id"),
          concat($"text", lit(" fresh suffix")).as("text")))
      val hashed = batch
        .withColumn("content_hash", HistoricalDedup.contentHash($"text"))
      val existing = ops.cdc.PartitionedUpsert.readForKeys(spark, dir,
        hashed.select($"content_hash"), "content_hash")
        .select($"content_hash")
      hashed.join(existing, Seq("content_hash"), "left_anti").count() }

    time("hist_neardup index (5k uniq)") {
      // fuzzy sibling: signature table + LSH band index over the
      // exact-deduped corpus (5k unique docs of the 50k replicated)
      val sigDir = s"$work/hnd_sig"; val bandDir = s"$work/hnd_band"
      if (!new java.io.File(s"$sigDir/_manifests").exists) {
        functions.NormalizeText.register(spark)
        val docs = Tables.table(spark, work, "documents")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"h").orderBy($"doc_id")
        val uniq = docs.withColumn("h",
            sha2(functions.NormalizeText.normalize_native($"text"), 256))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1).select($"doc_id", $"text")
        streaming.HistoricalNearDup.initCorpus(uniq, sigDir, bandDir,
          "doc_id", "text", nBuckets = 64)
      }
      ops.cdc.PartitionedUpsert.read(spark, sigDir).count() }

    time("agg_maintain init (1.5M src)") {
      // seed: upsert source table + its maintained per-segment aggregate
      val srcDir = s"$work/am_src"; val aggDir = s"$work/am_agg"
      if (!new java.io.File(s"$srcDir/_manifests").exists) {
        ops.cdc.PartitionedUpsert.init(
          Tables.table(spark, work, "customer").select(
            $"c_custkey".as("pk"), $"c_mktsegment".as("grp"),
            round($"c_acctbal" * 100).cast("long").as("v")),
          srcDir, "pk", 64)
        ops.cdc.AggMaintain.initAggregate(spark, srcDir, aggDir,
          Seq("grp"), Seq("v"), nBuckets = 16)
      }
      ops.cdc.AggMaintain.readAggregate(spark, aggDir).count() }
    time("am_src merge 10-key batch") {
      // the replica's own cost (not maintenance's): a 10-key change
      // batch rewrites <= 10 of 64 source buckets
      val srcDir = s"$work/am_src"
      val batch = Tables.table(spark, work, "customer")
        .filter($"c_custkey" < 10)
        .select($"c_custkey".as("pk"),
          ($"c_custkey" + 100000000L).as("lsn"), lit("u").as("op"),
          $"c_mktsegment".as("grp"),
          (round($"c_acctbal" * 100).cast("long") + 100L).as("v"))
      ops.cdc.PartitionedUpsert.merge(spark, srcDir, batch,
        "pk", "lsn", "op", Seq("grp", "v"), 64).length.toLong }
    time("agg_maintain step (10-key win)") {
      // the maintenance step alone: CDF of <= 10 changed buckets +
      // touched-group point read + one tiny merge. Its cost is bounded
      // by the CHANGED buckets — invariant in source size (the spec
      // asserts the pruning at plan level); at this smoke scale the
      // full recompute below is already trivially cheap, so the row
      // measures the step's fixed overhead, not the asymptote
      ops.cdc.AggMaintain.maintainAggregate(
        spark, s"$work/am_src", s"$work/am_agg")
      ops.cdc.AggMaintain.readAggregate(spark, s"$work/am_agg").count() }
    time("agg_full_recompute (1.5M)") {
      // what the maintenance step replaces at 100 TB (here the source
      // still scans in O(1 s) — the crossover is when it doesn't)
      ops.cdc.AggMaintain.fullAggregate(
        ops.cdc.PartitionedUpsert.read(spark, s"$work/am_src"),
        Seq("grp"), Seq("v")).count() }

    // ---- incremental JOIN maintenance cost shape ---------------------
    val (jmF, jmD, jmJ) = (s"$work/jm_fact", s"$work/jm_dim", s"$work/jm_join")
    time("join_maintain init (150k x 25)") {
      // seed: fact + dim upsert targets and the materialized join —
      // the only O(fact JOIN dim) step in the lifecycle
      if (!new java.io.File(s"$jmJ/_manifests").exists) {
        ops.cdc.PartitionedUpsert.init(
          Tables.table(spark, work, "customer").select(
            $"c_custkey".as("pk"),
            round($"c_acctbal" * 100).cast("long").as("cents"),
            $"c_nationkey".cast("long").as("fk")),
          jmF, "pk", 64)
        ops.cdc.PartitionedUpsert.init(
          Tables.table(spark, work, "nation").select(
            $"n_nationkey".cast("long").as("dk"), $"n_name".as("dname")),
          jmD, "dk", 4)
        ops.cdc.JoinMaintain.initJoin(spark, jmF, jmD, jmJ, "fk", 64)
      }
      ops.cdc.JoinMaintain.readJoin(spark, jmJ).count() }
    time("jm fact-batch + step (10-key)") {
      // fact window: CDF of <= 10 changed buckets, dim point lookup of
      // the touched fks, <= 10 join buckets rewritten — O(batch)
      val batch = Tables.table(spark, work, "customer")
        .filter($"c_custkey" < 10)
        .select($"c_custkey".as("pk"),
          ($"c_custkey" + 200000000L).as("lsn"), lit("u").as("op"),
          (round($"c_acctbal" * 100).cast("long") + 7L).as("cents"),
          $"c_nationkey".cast("long").as("fk"))
      ops.cdc.PartitionedUpsert.merge(spark, jmF, batch,
        "pk", "lsn", "op", Seq("cents", "fk"), 64)
      ops.cdc.JoinMaintain.maintainJoin(spark, jmF, jmD, jmJ)
      ops.cdc.JoinMaintain.readJoin(spark, jmJ).count() }
    time("jm dim-rename + step (1 key)") {
      // dim window: ONE renamed key re-derives ~1/25th of the join via
      // the fk-filtered narrow scan + point lookups — the documented
      // scan-shaped read, measured here rather than hidden
      ops.cdc.PartitionedUpsert.merge(spark, jmD,
        Seq((300000001L, 7L, "u", "RENAMED")).toDF("lsn", "dk", "op", "dname"),
        "dk", "lsn", "op", Seq("dname"), 4)
      ops.cdc.JoinMaintain.maintainJoin(spark, jmF, jmD, jmJ)
      ops.cdc.JoinMaintain.readJoin(spark, jmJ).count() }
    time("jm full re-join (150k)") {
      // what each maintenance step above replaces
      ops.cdc.JoinMaintain.fullJoin(
        ops.cdc.PartitionedUpsert.read(spark, jmF),
        ops.cdc.PartitionedUpsert.read(spark, jmD),
        "pk", "fk", "dk", Seq("cents", "fk"), Seq("dname")).count() }

    // ---- round-8 operators on the 10x corpus --------------------------
    time("graph_triangles (6M li)") {
      ops.relational.Graph.qGraphTriangles(spark, work).collect().length.toLong }
    time("llm_pmi (500k docs)") {
      ops.llm.Ranking.qLlmPmi(spark, work).count() }
    time("llm_bm25 (500k docs)") {
      ops.llm.Ranking.qLlmBm25(spark, work).count() }
    time("llm_dsir (500k docs)") {
      ops.llm.Dsir.qLlmDsir(spark, work).count() }
    time("llm_quota 2-phase (500k)") {
      ops.llm.Quota.qLlmQuota(spark, work).count() }
    time("gopher+c4 filters (500k)") {
      ops.llm.QualityFilters.qLlmGopher(spark, work).count() +
        ops.llm.QualityFilters.qLlmC4(spark, work).count() }

    // ---- round-9 operators on the 10x corpus --------------------------
    time("graph_linkpred (6M li)") {
      ops.relational.Graph.qGraphLinkpred(spark, work).count() }
    time("join_spatial (1.5M x 100k)") {
      ops.relational.Joins.qJoinSpatial(spark, work).count() }
    time("semdedup (20k emb)") {
      ops.llm.SemDedup.qLlmSemdedup(spark, work).count() }
    time("boilerplate_strip (50k docs)") {
      ops.llm.Boilerplate.qLlmBoilerplateStrip(spark, work).count() }
    time("llm_entropy narrow (50k docs)") {
      ops.llm.LlmQueries.qLlmEntropy(spark, work).count() }

    // ---- round-9 session-2 operators on the 10x corpus ----------------
    time("join_skew_salted (6M, hot key)") {
      ops.relational.Joins.qJoinSkewSalted(spark, work).count() }
    time("vocab_coverage 2-phase (500k)") {
      ops.llm.CorpusStats.qLlmVocabCoverage(spark, work).count() }
    time("sample_weighted 2-phase (500k)") {
      ops.llm.Sampling.qLlmSampleWeighted(spark, work).count() }
    time("keywords per-doc topk (500k)") {
      ops.llm.CorpusStats.qLlmKeywords(spark, work).count() }
    time("url_canon narrow (500k)") {
      ops.llm.UrlCanon.qLlmUrlCanon(spark, work).count() }
    time("cdc_merge_multi (1M events)") {
      ops.cdc.CdcQueries.qCdcMergeMulti(spark, work).count() }
    time("graph degree+assort (6M li)") {
      ops.relational.Graph.qGraphDegreeHist(spark, work).count() +
        ops.relational.Graph.qGraphAssortativity(spark, work).count() }
    time("ts interpolate+detrend (1M)") {
      ops.relational.Resample.qTsInterpolate(spark, work).count() +
        ops.relational.Resample.qTsDetrend(spark, work).count() }

    // ---- round-10 operators on the 10x corpus -------------------------
    time("mm_neardup dHash (500k imgs)") {
      ops.llm.Multimodal.qMmNeardup(spark, work).count() }
    time("incr_minmax reserve (150k)") {
      ops.cdc.CdcQueries.qCdcIncrMinmax(spark, work).count() }
    time("incr_distinct re-key (150k)") {
      ops.cdc.CdcQueries.qCdcIncrDistinct(spark, work).count() }
    time("asof_nearest (events 1M)") {
      ops.relational.Joins.qJoinAsofNearest(spark, work).count() }
    // chain table: build once from an SCD2-shaped slice of events, then
    // measure the O(batch) point lookup the layout exists for
    val chainDir = s"$work/derived/chain_t"
    val chainSrc = Tables.table(spark, work, "events")
      .select($"user_id".as("pk"), $"event_id".as("lsn"),
        unix_micros($"ts".cast("timestamp")).as("ts"), $"value".as("price"))
    if (!new java.io.File(chainDir).exists) {
      time("scd2_chain build (1M events)") {
        ops.cdc.Scd2Maintain.initChain(chainSrc, chainDir, "pk", "lsn",
          "ts", Seq("price"), nBuckets = 32)
        ops.cdc.Scd2Maintain.applyBatchChain(spark, chainDir, chainSrc,
          "pk", "lsn", "ts", Seq("price"), nBuckets = 32) }
    }
    time("chain asof lookup (1k events)") {
      val probe = chainSrc.limit(1000)
        .select($"pk", $"lsn".as("event_id"), ($"ts" + 1L).as("ts"))
      ops.cdc.Scd2Maintain.chainAsOf(spark, chainDir, probe,
        "pk", "ts", Seq("price")).count() }
    val stT = s"$work/derived/stats_t"; val stS = s"$work/derived/stats_s"
    if (!new java.io.File(stT).exists) {
      time("stats table init (1M rows)") {
        ops.cdc.PartitionedUpsert.init(
          Tables.table(spark, work, "events")
            .select(col("event_id").as("pk"), col("user_id"),
              col("event_type"), round(col("value") * 100).cast("long")
                .as("cents"))
            .dropDuplicates("pk"),
          stT, "pk", nBuckets = 32)
        ops.cdc.PartitionedUpsert.read(spark, stT).count() }
      time("stats_maintain init (1M)") {
        ops.cdc.StatsMaintain.init(spark, stT, stS,
          Seq("pk", "user_id", "event_type", "cents")).rows }
    }
    time("stats_maintain 1-key window") {
      // the O(changed-buckets) claim: one upserted key vs a 1M-row
      // table — the profile advances from the pruned CDF window
      ops.cdc.PartitionedUpsert.merge(spark, stT,
        spark.range(1).select(lit(999999999L).as("lsn"),
          lit(424242L).as("pk"), lit("c").as("op"), lit(7L).as("user_id"),
          lit("probe").as("event_type"), lit(1L).as("cents")),
        "pk", "lsn", "op", Seq("user_id", "event_type", "cents"), 32)
      ops.cdc.StatsMaintain.maintain(spark, stT, stS).rows }
    val blT = s"$work/derived/bloom_t"; val blI = s"$work/derived/bloom_i"
    if (!new java.io.File(blT).exists) {
      time("bloom_index table init (1M)") {
        ops.cdc.PartitionedUpsert.init(
          Tables.table(spark, work, "events")
            .select(col("event_id"), col("user_id"), col("value")),
          blT, "event_id", 32)
        // one planted RARE secondary value (single row) — the
        // workload blooms exist for; the hot probe below is the
        // honest contrast
        ops.cdc.PartitionedUpsert.merge(spark, blT,
          Seq((1L, 999999999L, "c", 424242424242L, 0.0))
            .toDF("lsn", "event_id", "op", "user_id", "value"),
          "event_id", "lsn", "op", Seq("user_id", "value"), 32)
        ops.cdc.PartitionedUpsert.read(spark, blT).count() }
      time("bloom_index build (1M rows)") {
        ops.cdc.BloomIndex.build(spark, blT, blI, "user_id") }
    }
    // diagnostics OUTSIDE the timed blocks — lookup() re-resolves its
    // own candidates, so timing both would double-count the bloom reads
    val rareCand = ops.cdc.BloomIndex.candidateBuckets(
      spark, blT, blI, "user_id", Seq(424242424242L))
    println(s"[scale]   rare candidates: ${rareCand.size} of 32 buckets")
    val hotCand = ops.cdc.BloomIndex.candidateBuckets(
      spark, blT, blI, "user_id", Seq(77L))
    println(s"[scale]   hot candidates: ${hotCand.size} of 32 buckets")
    time("bloom rare lookup (1 row)") {
      // the pruning claim at scale: a near-unique secondary value
      // reads ~1 of 32 buckets
      ops.cdc.BloomIndex.lookup(
        spark, blT, blI, "user_id", Seq(424242424242L)).count() }
    time("bloom hot lookup (~50 rows)") {
      // the honest boundary: a hot value's rows land in most buckets
      // by construction (key-hash placement), so blooms cannot prune
      // it — same statement as hash layout vs readKeyRange
      ops.cdc.BloomIndex.lookup(spark, blT, blI, "user_id", Seq(77L)).count() }

    // ---- skew: one user owns 50% of events ----------------------------
    // AQE skew-split rewrites sort-merge JOIN partitions at runtime;
    // window operators are out of its reach (compact relies on
    // WindowGroupLimit map-side top-1; the fallback for pathological
    // window skew is Cdc.compactSalted — equivalence tested in CdcSpec).
    if (!new java.io.File(s"$work/events_skew.parquet").exists) {
      println("[gen] skewed events: user_id 42 owns 50% of rows")
      Tables.table(spark, work, "events")
        .withColumn("user_id",
          when(col("event_id") % 2 === 0, lit(42L)).otherwise(col("user_id")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$work/events_skew.parquet")
    }
    val skewEvents = spark.read.parquet(s"$work/events_skew.parquet")
    val users = Tables.table(spark, work, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    def skewJoinCount(): (Long, Boolean) = {
      // hash over every payload column so pruning cannot narrow the
      // shuffled rows to just the (constant, hyper-compressible) hot
      // key — the skew must exist in BYTES, which is what AQE measures
      val j = skewEvents.join(users, "user_id")
        .groupBy("c_mktsegment")
        .agg(sum(pmod(xxhash64(col("event_id"), col("ts"), col("event_type"),
          col("value"), col("props")), lit(1000000000L))).as("n"))
      // collect() (not count()) so the SAME QueryExecution runs and its
      // final adaptive plan carries the skew=true annotations
      val n = j.collect().length.toLong
      (n, j.queryExecution.executedPlan.toString.contains("skew=true"))
    }
    // thresholds lowered so the smoke-scale hot partition (~tens of MB)
    // crosses the skew bar; production defaults (256 MB) fire unchanged
    // at real scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      time("skew join, AQE split OFF") { skewJoinCount()._1 }
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      var split = false
      time("skew join, AQE split ON") {
        val (n, s) = skewJoinCount(); split = s; n }
      println(s"[scale] AQE skew-split applied: $split")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      time("skew compact (window, group-limit)") {
        ops.cdc.Cdc.compact(
          skewEvents.select(col("user_id").as("pk"), col("event_id").as("lsn"),
            col("value")), Seq("pk"), "lsn").count() }
      time("skew compact (salted fallback)") {
        ops.cdc.Cdc.compactSalted(
          skewEvents.select(col("user_id").as("pk"), col("event_id").as("lsn"),
            col("value")), Seq("pk"), "lsn", nSalts = 16).count() }
    } finally {
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.enabled").foreach(spark.conf.unset)
    }

    // ---- graph hub skew: the pagerank iteration join under a Zipf hub --
    // BASELINE documents "Zipf in-degree hubs = the AQE-skew-join case"
    // for the graph family; this measures it on the REAL operator shape.
    // One supplier captures 40% of lineitems -> its src edge-row count
    // in the (src, dst, w) edge frame is ~500k vs a typical supplier's
    // ~60, and the per-iteration ew ⋈ ranks join on src carries the hot
    // partition. Same lowered thresholds as above (prod defaults fire
    // unchanged at real partition sizes); the triangle wedge join's
    // immunity is the orientation bound, asserted in ScaleSpec and
    // measured here on the co-purchase graph.
    {
      val li = Tables.table(spark, work, "lineitem")
        .select(col("l_orderkey"),
          when(pmod(xxhash64(col("l_orderkey")), lit(10)) < 4, lit(7L))
            .otherwise(col("l_suppkey")).as("l_suppkey"))
      val ord = Tables.table(spark, work, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("c"), col("o_custkey")).as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val hubEdges = edges.filter(col("src") === "s7").count()
      val medEdges = edges.groupBy(col("src")).count()
        .agg(percentile_approx(col("count"), lit(0.5), lit(1000))).head().getLong(0)
      println(s"[scale] hub supplier edge rows: $hubEdges vs median $medEdges")
      val ew = edges.join(
        edges.groupBy(col("src")).agg(sum(col("w")).as("ow")), "src")
        .localCheckpoint()
      val ranks = edges.select(col("src").as("node")).distinct()
        .select(col("node"), lit(0.0001).as("r"))
      def iterJoin(): (Long, Boolean) = {
        val contrib = ew
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("r") * col("w") / col("ow")).as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("c"))
        val n = contrib.count()
        (n, contrib.queryExecution.executedPlan.toString.contains("skew=true"))
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      try {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        time("pagerank hub join, split OFF") { iterJoin()._1 }
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        var split = false
        time("pagerank hub join, split ON") {
          val (n, s) = iterJoin(); split = s; n }
        println(s"[scale] pagerank hub: AQE skew-split applied: $split")
      } finally {
        Seq("spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.skewJoin.enabled").foreach(spark.conf.unset)
      }
      // triangle-side counterpart: orient the REAL co-purchase edge set
      // and report the bound that makes wedge-join skew handling moot
      val liP = Tables.table(spark, work, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val e0 = liP.as("a").join(liP.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).select(col("u"), col("v"))
        .localCheckpoint()
      val nE = e0.count()
      val rawMax = e0.select(col("u").as("n")).union(e0.select(col("v").as("n")))
        .groupBy(col("n")).count().agg(max(col("count"))).head().getLong(0)
      val orientedMax = graft.ops.relational.Graph.orientByDegree(e0)
        .groupBy(col("s")).count().agg(max(col("count"))).head().getLong(0)
      println(s"[scale] triangles: E=$nE rawMaxDeg=$rawMax orientedMaxOut=" +
        s"$orientedMax sqrtE=${math.sqrt(nE.toDouble).toInt} — orientation " +
        "bounds the wedge fan-out, no skew split needed")
    }
    // round-11 operators at 10x: the composed multi-join plans over
    // 6M lineitem / 1.5M orders, the product-analytics trio additions
    // over 1M events, the blocked fuzzy join, and the theta audience
    time("composed top_orders (Q3)") {
      ops.relational.Composed.qComposedTopOrders(spark, work).count() }
    time("composed local_volume (Q5)") {
      ops.relational.Composed.qComposedLocalVolume(spark, work).count() }
    time("composed big_orders (Q18)") {
      ops.relational.Composed.qComposedBigOrders(spark, work).count() }
    time("retention (1M events)") {
      ops.cdc.Quality.qRetention(spark, work).count() }
    time("attribution (1M events)") {
      ops.cdc.Quality.qAttribution(spark, work).count() }
    time("pathing (1M events)") {
      ops.cdc.Quality.qPathing(spark, work).count() }
    time("fuzzy join (blocked)") {
      ops.relational.FuzzyJoin.qJoinFuzzy(spark, work).count() }
    time("theta audience (1.5M ord)") {
      ops.relational.SetOps.qSetThetaAudience(spark, work).count() }
    time("rollcorr (1M events)") {
      ops.relational.Resample.qTsRollcorr(spark, work).count() }
    time("active_users (1M events)") {
      ops.cdc.Quality.qActiveUsers(spark, work).count() }
    time("streak (1M events)") {
      ops.cdc.Quality.qStreak(spark, work).count() }
    time("dlq replay (1M events)") {
      ops.cdc.CdcQueries.qCdcDlqReplay(spark, work).count() }
    time("schema evolve (1M events)") {
      ops.cdc.CdcQueries.qCdcEvolve(spark, work).count() }
    time("outbox route (1M events)") {
      ops.cdc.CdcQueries.qCdcOutbox(spark, work).count() }
    time("crossdup matrix (500k docs)") {
      ops.llm.CorpusStats.qLlmCrossdup(spark, work).count() }
    time("cust_dist (Q13, 1.5M ord)") {
      ops.relational.Composed.qComposedCustDist(spark, work).count() }
    // round-12 operators at 10x: the eleven shapes completing TPC-H
    // coverage (the heavy ones — the per-part correlated aggregates,
    // the waiting self-analysis over 6M lineitem, the market-share
    // 7-way join) plus connected components to the fixed point
    time("min_cost (Q2, 6M li)") {
      ops.relational.Composed2.qComposedMinCost(spark, work).count() }
    time("forecast scan (Q6, 6M li)") {
      ops.relational.Composed2.qComposedForecast(spark, work).count() }
    time("mktshare (Q8, 7-way)") {
      ops.relational.Composed2.qComposedMktshare(spark, work).count() }
    time("profit (Q9, cents)") {
      ops.relational.Composed2.qComposedProfit(spark, work).count() }
    time("important_stock (Q11)") {
      ops.relational.Composed2.qComposedImportantStock(spark, work).count() }
    time("small_qty (Q17, corr avg)") {
      ops.relational.Composed2.qComposedSmallQty(spark, work).count() }
    time("excess_supply (Q20, chain)") {
      ops.relational.Composed2.qComposedExcessSupply(spark, work).count() }
    time("waiting (Q21, 6M li)") {
      ops.relational.Composed2.qComposedWaiting(spark, work).count() }
    time("partsupp_cnt (Q16)") {
      ops.relational.Composed2.qComposedPartsuppCnt(spark, work).count() }
    time("graph cc (fixed point)") {
      ops.relational.Graph.qGraphCc(spark, work).count() }
    time("cdc two-hop dag (1M log)") {
      ops.cdc.CdcQueries.qCdcDag(spark, work).count() }
    time("avro encode+decode (1M)") {
      // the binary envelope transport end-to-end at 10x: encode the
      // whole change log to Avro and decode it back (narrow both ways)
      import org.apache.spark.sql.types._
      val payload = StructType(Seq(
        StructField("pk", LongType), StructField("v", DoubleType)))
      val canonical = ops.cdc.CdcQueries.changeLog(spark, work).select(
        $"op",
        when($"op" =!= "c",
          struct($"pk", ($"after_value" - 1.0).as("v"))).as("before"),
        when($"op" =!= "d",
          struct($"pk", $"after_value".as("v"))).as("after"),
        lit("events").as("src_table"), $"lsn",
        ($"lsn" * 1000L).as("ts_ms"))
      sources.AvroCdc.decode(
        sources.AvroCdc.encode(canonical, payload), "value", payload).count()
    }
    // ---- round-14 shapes: the multi-scan-audit fixes and new rungs
    // at 10x — each materializes its holdable reduction ONCE, so the
    // probe verifies the checkpoint trade holds as data grows.
    // (qActiveUsers exact is already timed above as "active_users
    // (1M events)" — the rung row here is its HLL counterpart.)
    time("active_users HLL rung (1M)") {
      ops.cdc.Quality.activeUsersApprox(spark, work).count() }
    time("gap_detect 2-level lag (1M)") {
      ops.cdc.CdcQueries.qCdcGapDetect(spark, work).count() }
    time("ccnet ref-LM partition (500k)") {
      ops.llm.QualityFilters.qLlmCcnet(spark, work).count() }
    time("editdist blocked (500k)") {
      ops.llm.LlmQueries2.qLlmEditDist(spark, work).count() }
    time("avro container files (1M)") {
      // the .avro OCF round-trip at 10x: distributed write (one file
      // per partition, deflate) then per-file DataFileReader decode
      import org.apache.spark.sql.types._
      val payload = StructType(Seq(
        StructField("pk", LongType), StructField("v", DoubleType)))
      val canonical = ops.cdc.CdcQueries.changeLog(spark, work).select(
        $"op", lit(null).cast(payload).as("before"),
        struct($"pk", $"after_value".as("v")).as("after"),
        lit("events").as("src_table"), $"lsn",
        ($"lsn" * 1000L).as("ts_ms"))
      val dir = s"$work/avro_files_smoke"
      sources.AvroCdc.writeFiles(canonical, payload, dir, codec = "deflate")
      sources.AvroCdc.readFiles(spark, dir, payload).count()
    }
    time("token_budget cut (500k docs)") {
      ops.llm.CorpusStats.qLlmTokenBudget(spark, work).count() }
    time("merge_into (1.5M ord x 150k)") {
      ops.cdc.MergeInto.qCdcMergeInto(spark, work).count() }
    time("merge_bysource full-reconcile") {
      ops.cdc.MergeInto.qCdcMergeBySource(spark, work).count() }
    time("dau blob maintain (1M ev)") {
      // streamed-state shape driven as a batch: init empty blobs, fold
      // the full event stream as one mergeBatch, read the series
      val dir = s"$work/dau_blobs_smoke"
      // init refuses an existing target (by contract) — wipe the dir so
      // a re-run against a kept corpus times the full fold, not a
      // replay-skipped no-op
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(dir))
      streaming.DauStream.init(spark, dir, nBuckets = 8)
      streaming.DauStream.mergeBatch(spark, dir,
        Tables.table(spark, work, "events").select($"user_id", $"ts"),
        lsn = 1L)
      streaming.DauStream.series(spark, dir).count()
    }

    // ---- r15 additions: SQL face + DSv2 + two-pass fuzzy --------------
    time("merge_sql statement (1.5M)") {
      // statement text parse + lowering: must cost what the builder
      // key costs (same plan by construction) plus microseconds of
      // parsing
      ops.cdc.MergeSql.qCdcMergeSql(spark, work).count() }
    time("join_fuzzy2 two-pass (50k names)") {
      // the oracled key's part-name domain stays 64 names under
      // replication (names replicate unchanged), so scale the REAL
      // workload synthetically: 50k distinct names in ~97 prefix
      // blocks of ~500 (2×~25M in-block JW evaluations), probes
      // corrupted INSIDE the prefix so recall rides the suffix pass
      val refs = spark.range(50000).select(
        concat(format_string("%02d", $"id" % 97), lit("-part-"),
          $"id".cast("string")).as("name"))
      val probes = refs.select(
        concat(substring($"name", 1, 1), substring($"name", 3, 1),
          substring($"name", 2, 1), expr("substr(name, 4)")).as("probe"))
      val (pairs, _) = ops.relational.FuzzyJoin.blockedJaroTwoPassWithStats(
        probes, refs, "probe", "name", blockLen = 3, threshold = 0.9,
        maxBlockSize = 2000)
      pairs.count()
    }
    val dsv2Dir = s"$work/dsv2_smoke"
    time("dsv2 init+merge+read (1.5M)") {
      // the oracled key's exact shape at 10x: init from customer,
      // one orders-derived merge, full filtered read via the provider
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(dsv2Dir))
      val tgt = Tables.table(spark, work, "customer").select(
        $"c_custkey",
        round($"c_acctbal" * 100.0, 0).cast("long").as("bal_cents"),
        $"c_mktsegment".as("seg"))
      ops.cdc.PartitionedUpsert.init(tgt, dsv2Dir, "c_custkey", nBuckets = 32)
      val changes = Tables.table(spark, work, "orders")
        .groupBy($"o_custkey")
        .agg(sum(round($"o_totalprice" * 100.0, 0).cast("long")).as("bal_cents"))
        .select(
          when($"o_custkey" % 13 === 0, lit("d")).otherwise(lit("u")).as("__op"),
          lit(1L).as("__lsn"), $"o_custkey".as("c_custkey"),
          $"bal_cents", lit("FED").as("seg"))
      ops.cdc.PartitionedUpsert.merge(spark, dsv2Dir, changes, "c_custkey",
        "__lsn", "__op", Seq("bal_cents", "seg"), nBuckets = 32)
      spark.read.format("graft").load(dsv2Dir)
        .filter($"bal_cents" > 0).count()
    }
    time("dsv2 point lookup (1 key)") {
      // manifest bucket pruning: a key-equality read plans 1 of 32
      // buckets — the O(point), not O(table), claim at 10x
      spark.read.format("graft").load(dsv2Dir)
        .filter($"c_custkey" === 77L).count() }
    time("dsv2 INSERT INTO (100k rows)") {
      // append-as-upsert through the SQL write face: one key shuffle
      // + touched-bucket rewrite, O(batch)
      spark.sql("DROP TABLE IF EXISTS smoke_dsv2_t")
      spark.sql(s"CREATE TABLE smoke_dsv2_t USING graft LOCATION '$dsv2Dir'")
      Tables.table(spark, work, "customer").limit(100000).select(
        ($"c_custkey" + 900000000L).as("k"),
        round($"c_acctbal" * 100.0, 0).cast("long").as("bal_cents"),
        lit("INS").as("seg"))
        .createOrReplaceTempView("smoke_ins_src")
      spark.sql("INSERT INTO smoke_dsv2_t SELECT * FROM smoke_ins_src")
      val n = spark.sql(
        "SELECT COUNT(*) FROM smoke_dsv2_t WHERE seg = 'INS'").head.getLong(0)
      spark.sql("DROP TABLE IF EXISTS smoke_dsv2_t")
      n
    }
    time("sql MERGE INTO statement (1.5M)") {
      // the full injected-parser path against a 1.5M-row table
      spark.sql("DROP TABLE IF EXISTS smoke_msql_t")
      spark.sql(s"CREATE TABLE smoke_msql_t USING graft LOCATION '$dsv2Dir'")
      Tables.table(spark, work, "orders")
        .filter($"o_orderdate" >= "1995-01-01" && $"o_orderdate" < "1995-02-01")
        .groupBy($"o_custkey".as("c_custkey"))
        .agg(sum(round($"o_totalprice" * 100.0, 0).cast("long")).as("add_cents"))
        .createOrReplaceTempView("smoke_msql_src")
      val touched = spark.sql(
        """MERGE INTO smoke_msql_t t USING smoke_msql_src s
          |ON t.c_custkey = s.c_custkey
          |WHEN MATCHED THEN UPDATE SET bal_cents = t.bal_cents + s.add_cents
          |""".stripMargin).head.getLong(0)
      spark.sql("DROP TABLE IF EXISTS smoke_msql_t")
      touched
    }
    time("MOR delete (~50k keys of 1.5M) + anti-joined read") {
      // merge-on-read erasure wave: the commit is O(delete batch)
      // sidecars — ZERO bucket rewrites on a 1.5M-row table — and the
      // follow-up full read pays one broadcast anti-join, proving the
      // read-side cost is the sidecar footprint, not a rewrite
      val doomed = Tables.table(spark, work, "customer")
        .filter($"c_custkey" % 29 === 0).select($"c_custkey")
      ops.cdc.PartitionedUpsert.deleteMor(spark, dsv2Dir, doomed, "c_custkey")
      ops.cdc.PartitionedUpsert.read(spark, dsv2Dir).count()
    }
    time("REORG purge of the MOR debt (32 buckets)") {
      // pay the debt down explicitly: O(tombstoned buckets) rewrite,
      // sidecars retired, read results identical by construction
      ops.cdc.PartitionedUpsert.purgeTombstones(spark, dsv2Dir).size.toLong
    }
    val cloneDir = s"$work/clone_smoke"
    time("shallow clone of 1.5M-row table (metadata only)") {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(cloneDir))
      // the fork itself must be O(manifest) — milliseconds at any
      // table size; the count reads THROUGH the ext borrows
      ops.cdc.PartitionedUpsert.clone(spark, dsv2Dir, cloneDir)
      ops.cdc.PartitionedUpsert.read(spark, cloneDir).count()
    }
    time("CoW divergence on the clone (100k-row merge)") {
      // a merge on the clone rewrites ONLY its touched buckets into
      // the clone's own data/ — the source never moves a byte
      val changes = Tables.table(spark, work, "customer").limit(100000)
        .select(lit("u").as("__op"), lit(9L).as("__lsn"), $"c_custkey",
          round($"c_acctbal" * 100.0, 0).cast("long").as("bal_cents"),
          lit("CLN").as("seg"))
      ops.cdc.PartitionedUpsert.merge(spark, cloneDir, changes, "c_custkey",
        "__lsn", "__op", Seq("bal_cents", "seg"), nBuckets = 32)
      spark.read.format("graft").load(cloneDir)
        .filter($"seg" === "CLN").count()
    }
    spark.stop()
  }
}
