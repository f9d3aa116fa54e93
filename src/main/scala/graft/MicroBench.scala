package graft

import org.apache.spark.sql.functions._

/** Micro-benchmark: HOF dot product (aggregate+zip_with) vs the native
  * codegen DotProduct expression on an all-pairs cosine workload.
  * Usage: sbt "runMain graft.MicroBench [sfDir] [nQueries]" */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQ = args.lift(1).map(_.toInt).getOrElse(200)
    val spark = GraftSession.builder(32).master("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    functions.VectorExpressions.register(spark)

    val emb = Tables.table(spark, sfDir, "embeddings")
      .withColumn("v", ops.llm.Knn.asDouble($"embedding")).select($"vec_id", $"v")
    val q = emb.filter($"vec_id" < nQ)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    def workload(dotCol: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      emb.crossJoin(broadcast(q))
        .select(sum(dotCol($"v")).as("s")).head().getDouble(0)

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s  (result=$r)"); r
    }
    // warmup both paths
    workload(v => ops.llm.Knn.dot(v, $"qv"))
    workload(v => functions.VectorExpressions.dot_native(v, $"qv"))
    val h = time("HOF   aggregate+zip_with")(workload(v => ops.llm.Knn.dot(v, $"qv")))
    val n = time("NATIVE graft_dot codegen")(workload(v => functions.VectorExpressions.dot_native(v, $"qv")))
    assert(math.abs(h - n) < 1e-6 * math.abs(h).max(1.0), "results diverge")

    // hyperplane-LSH signature: nPlanes dots PER ROW — the candidate-
    // generation hot path where the HOF cost multiplies by nPlanes
    {
      val dim = 64; val nPlanes = 16
      val rnd = new scala.util.Random(42L)
      val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
      val corp = emb.filter(size($"v") === dim).crossJoin(spark.range(5))
      def sigWork(dotf: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => org.apache.spark.sql.Column): Long = {
        val sig = (0 until nPlanes).map { p =>
          val plane = typedLit(planes(p).toSeq)
          when(dotf($"v", plane) > 0.0, shiftleft(lit(1L), p)).otherwise(0L)
        }.reduce((a, b) => a.bitwiseOR(b))
        corp.select(sum(sig).as("s")).head().getLong(0)
      }
      sigWork(ops.llm.Knn.dot) // warmup both
      sigWork(functions.VectorExpressions.dot_native)
      val sh = time("HOF    hyperplane sig x16")(sigWork(ops.llm.Knn.dot))
      val sn = time("NATIVE hyperplane sig x16")(
        sigWork(functions.VectorExpressions.dot_native))
      assert(sh == sn, s"signatures diverge: $sh vs $sn")
    }

    // normalize: 2-regex-pass vs single-pass char scan, 20x documents
    functions.NormalizeText.register(spark)
    val docs = Tables.table(spark, sfDir, "documents")
      .crossJoin(spark.range(20)).select($"text")
    docs.count() // warm cache
    def textWork(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      docs.select(sum(length(f($"text"))).as("s")).head().getLong(0)
    textWork(functions.TextUdf.normalizeTextCol)
    textWork(functions.NormalizeText.normalize_native)
    val tr = { val t0 = System.nanoTime()
      val r = textWork(functions.TextUdf.normalizeTextCol)
      println(f"REGEX normalize 2-pass    : ${(System.nanoTime() - t0) / 1e9}%.2f s"); r }
    val tn = { val t0 = System.nanoTime()
      val r = textWork(functions.NormalizeText.normalize_native)
      println(f"NATIVE normalize 1-pass   : ${(System.nanoTime() - t0) / 1e9}%.2f s"); r }
    assert(tr == tn, s"normalize outputs diverge: $tr vs $tn")

    // char shingles: HOF (normalize projection + transform lambda) vs
    // the single-pass native kernel, 5x documents. The HOF side below
    // is the FIXED formulation (normalization in its own projection);
    // the original lambda-inlined form re-ran the regex per shingle
    // and measured another ~6x slower (BASELINE.md round-5 notes).
    functions.CharShingles.register(spark)
    val sdocs = Tables.table(spark, sfDir, "documents")
      .crossJoin(spark.range(5)).select($"text")
    sdocs.count() // warm cache
    // two-projection HOF reference (cannot fuse into one Column
    // without re-triggering the lambda-inlining trap)
    val hofForced = sdocs
      .select(regexp_replace(lower($"text"), Ws.Plus, " ").as("t"))
      .select(size(ops.llm.NearDup.charShingles($"t", 5)).as("n"))
    def hofWork() = hofForced.select(sum($"n")).head().getLong(0)
    def natWork() = sdocs.select(sum(size(
      functions.CharShingles.shingles_native($"text", 5)))).head().getLong(0)
    hofWork(); natWork() // warmup
    val shh = { val t0 = System.nanoTime(); val r = hofWork()
      println(f"HOF    char shingles n=5  : ${(System.nanoTime() - t0) / 1e9}%.2f s"); r }
    val shn = { val t0 = System.nanoTime(); val r = natWork()
      println(f"NATIVE char shingles n=5  : ${(System.nanoTime() - t0) / 1e9}%.2f s"); r }
    assert(shh == shn, s"shingle counts diverge: $shh vs $shn")

    // contamination join transport: string shingles vs xxhash64 keys.
    // The report is identical (PipelineOpsSpec proves it); what changes
    // is the bytes every exchange carries — measured here via the
    // stage-level shuffle-write metrics, not guessed.
    {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      val cdocs = Tables.table(spark, sfDir, "documents")
        .withColumn("split",
          ops.llm.Sampling.assignSplit($"doc_id", 80, 10, "split"))
      def contamWork(hashed: Boolean): (Long, Long) = {
        shuffleBytes.set(0L)
        spark.sparkContext.addSparkListener(listener)
        try {
          val rows = ops.llm.Contamination.crossSplitOverlap(
            cdocs, "doc_id", "text", "split", "test", "train",
            n = 4, minHits = 5, hashJoinKeys = hashed).count()
          // stage-completed events are async: quiesce until the counter
          // holds still for several consecutive polls (bounded) — a
          // single stable read can race a straggler stage event
          var prev = -1L; var stable = 0; var waited = 0
          while (stable < 3 && waited < 50) {
            val cur = shuffleBytes.get()
            stable = if (cur == prev) stable + 1 else 0
            prev = cur; Thread.sleep(100); waited += 1
          }
          (rows, shuffleBytes.get())
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      contamWork(false); contamWork(true) // warmup
      val (rs, bs) = { val t0 = System.nanoTime(); val r = contamWork(false)
        println(f"STRING contamination join : ${(System.nanoTime() - t0) / 1e9}%.2f s  shuffled=${r._2 / 1048576.0}%.1f MiB"); r }
      val (rh, bh) = { val t0 = System.nanoTime(); val r = contamWork(true)
        println(f"XXHASH contamination join : ${(System.nanoTime() - t0) / 1e9}%.2f s  shuffled=${r._2 / 1048576.0}%.1f MiB"); r }
      assert(rs == rh, s"contamination reports diverge: $rs vs $rh rows")
      // measurement harness, not a correctness gate: an async listener
      // under-read must not fail the run — report loudly instead
      if (bh < bs)
        println(f"xxhash64 keys shuffle ${100.0 * (bs - bh) / bs}%.0f%% fewer bytes")
      else
        println(s"WARNING: hashed-key bytes not lower ($bh vs $bs) — " +
          "likely a lagging stage-completed event; rerun to confirm")
    }

    // top-k terms: exact vocabulary shuffle vs the mergeable
    // frequent-items sketch (approx_top_k). Both partial-aggregate
    // map-side; what differs is what the exchange carries — every
    // distinct (lang, token) a partition saw vs ONE bounded sketch per
    // (lang, partition). Same listener discipline as above.
    {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      val fdocs = Tables.table(spark, sfDir, "documents")
      def measured(f: => Long): (Long, Long) = {
        shuffleBytes.set(0L)
        spark.sparkContext.addSparkListener(listener)
        try {
          val rows = f
          var prev = -1L; var stable = 0; var waited = 0
          while (stable < 3 && waited < 50) {
            val cur = shuffleBytes.get()
            stable = if (cur == prev) stable + 1 else 0
            prev = cur; Thread.sleep(100); waited += 1
          }
          (rows, shuffleBytes.get())
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      def exactWork(): Long = {
        val tok = fdocs.select($"lang",
          explode(split($"text", " ")).as("token"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"cnt".desc, $"token".asc)
        tok.groupBy($"lang", $"token").agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(w)).filter($"rk" <= 5).count()
      }
      def sketchWork(): Long = ops.llm.FreqTerms
        .approxTopTerms(fdocs, "lang", "text", k = 5, maxItemsTracked = 1024)
        .count()
      measured(exactWork()); measured(sketchWork()) // warmup
      val (re, be) = { val t0 = System.nanoTime(); val r = measured(exactWork())
        println(f"EXACT  top-5 terms/lang   : ${(System.nanoTime() - t0) / 1e9}%.2f s  shuffled=${r._2 / 1048576.0}%.1f MiB"); r }
      val (ra, ba) = { val t0 = System.nanoTime(); val r = measured(sketchWork())
        println(f"SKETCH approx_top_k 1024  : ${(System.nanoTime() - t0) / 1e9}%.2f s  shuffled=${r._2 / 1048576.0}%.1f MiB"); r }
      assert(re == ra, s"top-k row counts diverge: $re vs $ra")
      if (ba < be)
        println(f"frequent-items sketch shuffles ${100.0 * (be - ba) / be}%.0f%% fewer bytes")
      else
        println(s"WARNING: sketch bytes not lower ($ba vs $be) — vocabulary " +
          "may be under the sketch capacity at this scale; rerun/raise sf")
    }

    // per-group distributions: exact percentiles shuffle every VALUE a
    // partition saw (percentile's partial is the value list); the
    // grouped KLL aggregate shuffles one bounded sketch per (group,
    // partition) — the same exchange-payload argument as frequent
    // items, for the quantile family.
    {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      def measured(f: => Long): (Long, Long) = {
        shuffleBytes.set(0L)
        spark.sparkContext.addSparkListener(listener)
        try {
          val rows = f
          var prev = -1L; var stable = 0; var waited = 0
          while (stable < 3 && waited < 50) {
            val cur = shuffleBytes.get()
            stable = if (cur == prev) stable + 1 else 0
            prev = cur; Thread.sleep(100); waited += 1
          }
          (rows, shuffleBytes.get())
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      functions.KllSketchAgg.register(spark)
      val li = Tables.table(spark, sfDir, "lineitem")
        .select($"l_suppkey".as("g"), $"l_extendedprice".as("v"))
      // the aggregated column must be CONSUMED or column pruning
      // deletes the aggregate and both sides shuffle only keys
      // (observed: identical byte counts under a bare .count())
      def exactWork(): Long = li.groupBy($"g")
        .agg(percentile($"v", lit(0.5)).as("p50"))
        .filter($"p50".isNotNull).count()
      def sketchWork(): Long = li.groupBy($"g")
        .agg(functions.KllSketchAgg.kll_agg($"v").as("sk"))
        .filter($"sk".isNotNull).count()
      measured(exactWork()); measured(sketchWork()) // warmup
      val (re, be) = { val t0 = System.nanoTime(); val r = measured(exactWork())
        println(f"EXACT  p50 per suppkey    : ${(System.nanoTime() - t0) / 1e9}%.2f s  shuffled=${r._2 / 1048576.0}%.1f MiB"); r }
      val (ra, ba) = { val t0 = System.nanoTime(); val r = measured(sketchWork())
        println(f"SKETCH kll_agg per suppkey: ${(System.nanoTime() - t0) / 1e9}%.2f s  shuffled=${r._2 / 1048576.0}%.1f MiB"); r }
      assert(re == ra, s"group counts diverge: $re vs $ra")
      if (ba < be)
        println(f"grouped KLL shuffles ${100.0 * (be - ba) / be}%.0f%% fewer bytes")
      else
        println(s"WARNING: KLL bytes not lower ($ba vs $be) — groups may be " +
          "too small for the sketch to undercut raw values at this scale")
    }

    // Jaro-Winkler: the native codegen kernel vs the same algorithm
    // as a Scala UDF — measures the Row-boxing + codegen-boundary tax
    // alone (identical arithmetic, byte-identical results asserted),
    // on the fuzzy-join candidate workload (every customer name
    // against 200 probe names).
    {
      functions.JaroWinkler.register(spark)
      val jwUdf = udf { (a: String, b: String) =>
        if (a == null || b == null) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(functions.JaroWinkler.similarity(
          org.apache.spark.unsafe.types.UTF8String.fromString(a),
          org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      }
      val names = Tables.table(spark, sfDir, "customer").select($"c_name")
      val probes = names.limit(200).select($"c_name".as("p"))
      def work(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => org.apache.spark.sql.Column): Double =
        names.crossJoin(broadcast(probes))
          .select(sum(f($"c_name", $"p")).as("s")).head().getDouble(0)
      work(functions.JaroWinkler.jaro_winkler); work(jwUdf(_, _)) // warmup
      val n = time("NATIVE graft_jaro_winkler")(
        work(functions.JaroWinkler.jaro_winkler))
      val u = time("UDF    same kernel boxed ")(work(jwUdf(_, _)))
      // Per-pair kernels are bit-identical; the SUM is a double fold
      // whose partial-aggregation order differs between the two
      // physical plans, so compare at a relative tolerance rather
      // than bitwise (r11 ADVICE — the exact assert could flake on
      // partition-order differences).
      assert(math.abs(n - u) <= 1e-9 * math.max(math.abs(n), math.abs(u)),
        s"results diverge: $n vs $u")
    }

    // Avro vs JSON envelope transport: decode throughput of the SAME
    // logical change records through the binary codec (mapPartitions,
    // reused datum reader, leaves codegen) vs from_json (codegen'd
    // JsonToStructs). Measures what the eval-only trade documented in
    // sources/AvroCdc actually costs — and what the smaller wire size
    // buys — on the corpus change log.
    {
      import org.apache.spark.sql.types._
      val payload = StructType(Seq(
        StructField("pk", LongType), StructField("v", DoubleType),
        StructField("lbl", StringType)))
      val canonical = ops.cdc.CdcQueries.changeLog(spark, sfDir).select(
        $"op",
        when($"op" =!= "c", struct($"pk", ($"after_value" - 1.0).as("v"),
          lit("old").as("lbl"))).as("before"),
        when($"op" =!= "d", struct($"pk", $"after_value".as("v"),
          concat(lit("e"), $"lsn").as("lbl"))).as("after"),
        lit("events").as("src_table"), $"lsn",
        ($"lsn" * 1000L + 1700000000000L).as("ts_ms"))
      val avroWire = sources.AvroCdc.encode(canonical, payload)
        .localCheckpoint()
      val jsonWire = canonical.select(to_json(struct($"op", $"before",
          $"after", struct($"src_table".as("table"), $"lsn").as("source"),
          $"ts_ms")).as("j"))
        .localCheckpoint()
      val aBytes = avroWire.select(sum(length($"value"))).head().getLong(0)
      val jBytes = jsonWire.select(sum(length($"j"))).head().getLong(0)
      def avroWork() = sources.AvroCdc.decode(avroWire, "value", payload)
        .select(sum($"lsn")).head().getLong(0)
      def jsonWork() = ops.cdc.Cdc.decode(jsonWire, "j", payload)
        .select(sum($"lsn")).head().getLong(0)
      avroWork(); jsonWork() // warmup
      val a = time("AVRO  binary decode (mapPartitions)")(avroWork())
      val j = time("JSON  from_json decode (codegen)  ")(jsonWork())
      assert(a == j, s"decoded checksums diverge: $a vs $j")
      println(f"wire bytes: avro=$aBytes json=$jBytes " +
        f"(avro = ${aBytes * 100.0 / jBytes}%.0f%% of json)")
    }
    spark.stop()
  }
}
