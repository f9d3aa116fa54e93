package graft

/** Benchmark main. Per key: 3 timed runs, report the median (the first
  * run absorbs residual JIT/codegen warmup; the median hides one-off
  * machine noise — rounds 1→2 drifted 11% with zero code changes).
  * r16 refinement: a key whose FIRST run is both heavy (>2 s) and
  * >1.5× the max of the next two is JIT-inflated, not noisy — it gets
  * ONE extra run and the median of the three post-warmup runs, with
  * the dropped first run recorded as `warmup` in bench_results.json
  * (r15 verdict #9; only inflated keys pay the 4th rep).
  * r18 refinement (r16+r17 verdicts, ordered twice): outlier rejection
  * on ANY rep — a mid-sweep load spike >2× the triple's min (and
  * >0.15 s over it) is dropped and replaced by one fresh run (bounded
  * at 2 replacements), so a 9.45 s spike on rep 2 can no longer push
  * a 6.28 s rep into the median of a 4.2 s key; rejected reps are
  * recorded under `outliers` per key.
  *
  * Output contract: the FINAL stdout line is one bare compact JSON
  * object small enough (values %.3f) that the driver's 2000-char output
  * tail contains it whole even with sbt's trailing [success] line. The
  * full result (all runs, 6-decimal) is also written to bench_results
  * .json in the working directory for the judge.
  */
object Bench {
  /** Median of 2+ values: middle element odd, mean of the middle pair
    * even (the 2-survivor case after outlier rejection). */
  private[graft] def medianOf(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Is `rep` a mid-sweep load spike relative to the triple's best
    * run? >2× the min AND >0.15 s absolute excess (the regression
    * gate's own jitter floor — a 0.04→0.09 s wiggle on constant-cost
    * trivia is scheduling noise, not a spike worth a re-run). */
  private[graft] def isOutlierRep(rep: Double, mn: Double): Boolean =
    rep > 2 * mn && rep - mn > 0.15

  /** The rep to reject from a triple, if any (r19 — the r18 rule
    * anchored on the bare min, so one anomalously FAST rep — cache
    * artifact, near-empty first result — made LEGITIMATE reps look
    * like >2×-min spikes, rejecting up to three of them and biasing
    * the median low). A spike is the MAX, and only when the other two
    * reps AGREE with each other (within 1.5×): agreement says they
    * are the measurement and the max is the anomaly; disagreement
    * says the triple is just noisy — median it as-is. */
  private[graft] def spikeOf(rs: Vector[Double]): Option[Double] =
    if (rs.size < 3) None
    else {
      val s = rs.sorted
      if (s(1) <= 1.5 * s(0) && isOutlierRep(s(2), s(0))) Some(s(2))
      else None
    }

  /** Sort a line's AND-conjuncts at the OUTERMOST conjunction level
    * only — leaving " AND " text inside nested sub-expressions and
    * string literals untouched (ADVICE r13: a naive split-all
    * reordered text inside literals, so two genuinely different plans
    * could normalize to one fingerprint).
    *
    * The operator prefix and trailing args are peeled BEFORE the
    * split: "Filter ((A) AND (B))" sorts the body "(A) AND (B)", not
    * raw segments — a raw split attaches "Filter ((" to whichever
    * conjunct the ExpressionSet happens to render first, so the same
    * set in two iteration orders would normalize to two different
    * strings (the false-positive class this sort exists to kill).
    * The body is the inside of the FIRST paren group (to its MATCHING
    * close — "Join Inner, ((a) AND (b)), rightHint=(broadcast)" keeps
    * the hint as suffix instead of splicing it into a conjunct), cuts
    * happen ONLY at depth 0 of that body (r14 review: the earlier
    * min-depth fallback cut INSIDE both branches of an OR-of-ANDs,
    * mapping genuinely different plans to one fingerprint), and the
    * sort is abandoned unless every segment is paren-balanced (safety
    * net: an unparseable line passes through verbatim — worst case a
    * spurious plan_changed diagnostic, never an aliased one).
    *
    * Two r15 restrictions (r14 ADVICE — both narrow the sort further
    * toward "only where ExpressionSet reordering can actually
    * occur"):
    *  - only lines whose OPERATOR (after the tree-drawing prefix) is
    *    `Filter` or `Join` sort at all — those are the two optimized-
    *    logical-plan nodes that render ExpressionSet-ordered conjunct
    *    sets; an `Aggregate`/`Project` line with a depth-0 " AND "
    *    inside an expression list renders in FIELD order (stable) and
    *    sorting it could only alias;
    *  - the depth scan is QUOTE-aware: inside a `'…'` literal
    *    (`''` = escaped quote), parens and " AND " are inert, so a
    *    depth-0 literal containing " AND " can no longer be split
    *    and reordered (two genuinely different literals aliasing to
    *    one fingerprint). An unbalanced quote poisons the line into
    *    verbatim passthrough — same safety-net direction as the
    *    balance check. NOTE: changing normalization re-seeds affected
    *    fingerprints — the first sweep after this lands reports a
    *    one-time plan_changed wave whose bench_plan_diffs.txt entries
    *    are sort-scope-only; re-seeded in-session (BASELINE.md r15). */
  private[graft] def sortTopLevelConjuncts(line: String): String = {
    // operator gate: tree prefix chars, then Filter/Join only
    var p = 0
    while (p < line.length && " :+-|!".indexOf(line.charAt(p)) >= 0) p += 1
    if (!(line.startsWith("Filter ", p) || line.startsWith("Join ", p)))
      return line
    val open = line.indexOf('(')
    if (open < 0) return line
    // matching close paren of the first group (quote-aware)
    var depth0 = 0
    var close = -1
    var k = open
    var q0 = false
    while (k < line.length && close < 0) {
      val c = line.charAt(k)
      if (c == '\'') q0 = !q0
      else if (!q0) c match {
        case '(' => depth0 += 1
        case ')' => depth0 -= 1; if (depth0 == 0) close = k
        case _ =>
      }
      k += 1
    }
    if (close < 0 || q0) return line
    val prefix = line.substring(0, open + 1)
    val body = line.substring(open + 1, close)
    val suffix = line.substring(close)
    val sep = " AND "
    val cuts = scala.collection.mutable.ListBuffer[Int]()
    var depth = 0
    var inQ = false
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\'') inQ = !inQ
      else if (!inQ) c match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      if (!inQ && depth == 0 && body.startsWith(sep, i)) cuts += i
      i += 1
    }
    if (inQ) return line // unbalanced quote: verbatim passthrough
    if (cuts.isEmpty) line
    else {
      val starts = 0 +: cuts.toList.map(_ + sep.length)
      val ends = cuts.toList :+ body.length
      val segs = starts.zip(ends).map { case (s, e) => body.substring(s, e) }
      val balanced = segs.forall { seg =>
        var d = 0; var ok = true; var q = false
        seg.foreach { c =>
          if (c == '\'') q = !q
          else if (!q) c match {
            case '(' => d += 1
            case ')' => d -= 1; if (d < 0) ok = false
            case _ =>
          }
        }
        ok && d == 0 && !q
      }
      if (!balanced) line
      else prefix + segs.sorted.mkString(sep) + suffix
    }
  }

  /** Normalize the per-session gid RENUMBERING Spark's
    * RewriteDistinctAggregates emits (observed r18, q_agg_distinct:
    * the same query assigned gid 2↔3 to its two single-column distinct
    * sets in different JVMs — Expand rows and the Aggregate line's
    * `FILTER (WHERE (gid# = N))` clauses renumber CONSISTENTLY, so the
    * plan is semantically identical but the text flaps). Two masks:
    * gid comparison literals become `#`, and an `Expand [[…], …]`
    * line's ROWS are sorted after masking each row's trailing gid
    * literal. Aggregate output aliases (nd_parts AS …) stay in the
    * text, so a GENUINE remapping of distinct-set → output column
    * still fingerprints distinctly. */
  private[graft] def normalizeDistinctGids(line: String): String = {
    val masked = line.replaceAll("\\(gid#? = \\d+\\)", "(gid# = #)")
    var p = 0
    while (p < masked.length && " :+-|!".indexOf(masked.charAt(p)) >= 0)
      p += 1
    // the rewrite's INTERMEDIATE Aggregate groups by the distinct
    // attributes in the same session-dependent iteration order that
    // renumbers the gids — its grouping list (and the Expand OUTPUT
    // list) flap too. Sorting a grouping list is set-semantics-safe,
    // but gate it to gid-bearing lines so ordinary Aggregates (whose
    // text never flaps) keep their fingerprints untouched.
    def sortAttrList(s: String, from: Int): String = {
      val open = s.indexOf('[', from)
      if (open < 0) return s
      var depth = 0; var close = -1; var k = open
      while (k < s.length && close < 0) {
        s.charAt(k) match {
          case '[' | '(' => depth += 1
          case ']' | ')' => depth -= 1; if (depth == 0) close = k
          case _ =>
        }
        k += 1
      }
      if (close < 0) return s
      val segs = scala.collection.mutable.ListBuffer[String]()
      var d = 0; var st = open + 1
      for (i <- (open + 1) until close) {
        s.charAt(i) match {
          case '[' | '(' => d += 1
          case ']' | ')' => d -= 1
          case ',' if d == 0 && s.startsWith(", ", i) =>
            segs += s.substring(st, i); st = i + 2
          case _ =>
        }
      }
      segs += s.substring(st, close)
      s.substring(0, open + 1) + segs.toList.sorted.mkString(", ") +
        s.substring(close)
    }
    if (masked.startsWith("Aggregate [", p) && masked.contains("gid#")) {
      // sort EVERY top-level bracket group (grouping AND output lists
      // — both render in the flapping iteration order; exprIds are
      // masked, so intra-line order is the only leak)
      var out = masked
      var idx = out.indexOf('[', p)
      while (idx >= 0) {
        out = sortAttrList(out, idx)
        // matching close of the group just sorted
        var depth = 0; var k = idx; var close = -1
        while (k < out.length && close < 0) {
          out.charAt(k) match {
            case '[' | '(' => depth += 1
            case ']' | ')' => depth -= 1; if (depth == 0) close = k
            case _ =>
          }
          k += 1
        }
        idx = if (close < 0) -1 else out.indexOf('[', close + 1)
      }
      return out
    }
    if (!masked.startsWith("Expand [[", p)) return masked
    // gate EVERYTHING on gid-bearing lines (r18 ADVICE): only the
    // distinct-rewrite's gid renumbering flaps per session. A cube/
    // rollup/unpivot Expand renders DETERMINISTIC ids and row order,
    // so masking/sorting those rows hid genuine plan changes that
    // only moved Expand literals or row content ordering.
    val gidLine = masked.contains("gid#")
    if (!gidLine) return masked
    val start = masked.indexOf("[[", p) + 1 // first row's '['
    // rows end at "]]" — the Expand OUTPUT list follows after "], ["
    val end = masked.indexOf("]]", start)
    if (end < 0) return masked
    val rows = masked.substring(start, end + 1) // "[a, b, 0], …, [c, d, 3]"
      .split("\\], \\[")
      .map(_.stripPrefix("[").stripSuffix("]"))
      .map(_.replaceAll(", \\d+$", ", #"))
      // gid-bearing rows ALSO render their attrs in the flapping
      // iteration order (rows are positional twins of the output list)
      // — canonicalize within each row before sorting the rows
      .map(r => r.split(", ").sorted.mkString(", "))
      .sorted
    val head = masked.substring(0, start) +
      rows.mkString("[", "], [", "]")
    val tail0 = masked.substring(end + 1)
    // the Expand OUTPUT list follows as ", [attrs…]" — sort it too
    // when gid-bearing (it lists the same flapping attribute order)
    val tail =
      if (masked.contains("gid#")) sortAttrList(tail0, 0) else tail0
    head + tail
  }

  /** Parse bench_plans.json with a linear hand scan, NOT a regex: a
    * Java regex of the shape ((?:[^"\\]|\\.)*) recurses per
    * alternation step and throws StackOverflowError on multi-KB plan
    * strings (observed r14 — every prior-text read silently came back
    * empty through the catch-all). Inverse of [[jsonEsc]] for the
    * escapes plan text actually contains. */
  private[graft] def parsePlanTexts(txt: String): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < txt.length) {
      val ks = txt.indexOf("\"q_", i)
      if (ks < 0) i = txt.length
      else {
        val ke = txt.indexOf("\":\"", ks)
        if (ke < 0) i = txt.length
        else {
          val key = txt.substring(ks + 1, ke)
          val sb = new StringBuilder
          var j = ke + 3
          var done = false
          while (j < txt.length && !done) {
            txt.charAt(j) match {
              case '\\' if j + 1 < txt.length =>
                txt.charAt(j + 1) match {
                  case 'n' => sb.append('\n'); j += 2
                  case 't' => sb.append('\t'); j += 2
                  case 'r' => sb.append('\r'); j += 2
                  case 'u' if j + 5 < txt.length &&
                      txt.substring(j + 2, j + 6)
                        .forall(c => Character.digit(c, 16) >= 0) =>
                    // inverse of jsonEsc's \u00xx control-char escape
                    // (r14 review: dropping it left literal "u00xx"
                    // text, a phantom prior-vs-current diff forever;
                    // the hex guard keeps a corrupt escape from
                    // throwing into the caller's catch-all, which
                    // would discard the WHOLE prior map)
                    sb.append(Integer.parseInt(
                      txt.substring(j + 2, j + 6), 16).toChar)
                    j += 6
                  case c => sb.append(c); j += 2
                }
              case '"' => done = true; j += 1
              case c => sb.append(c); j += 1
            }
          }
          out(key) = sb.toString
          i = j
        }
      }
    }
    out.toMap
  }

  /** Minimal JSON string escape for plan text persisted to
    * bench_plans.json. */
  private[graft] def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** 1-minute system load average at a key's END (r19 — three rounds
    * of flagged-regression churn have been window artifacts whose
    * solos read in band; recording machine load per key makes "slow
    * segment = contended window" checkable from the artifact instead
    * of requiring a re-run). -1 when the platform bean hides it. */
  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** One key's measurement. `compiles` are the codegen classes
    * compiled while the key's runs executed (a [[compileCount]] delta
    * around all of its runs), `compileMs` the time spent compiling
    * them ([[compileMsOf]]). */
  private final case class KeyResult(name: String, median: Double,
                                     runs: Vector[Double], fp: String,
                                     planText: String,
                                     warmup: Option[Double],
                                     outliers: List[Double], load: Double,
                                     compiles: Long, compileMs: Double)

  private def compileHistogram =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** Codegen classes compiled so far in this JVM. */
  private def compileCount(): Long = compileHistogram.getCount

  /** Estimated ms to compile `n` classes just compiled: `n` times the
    * mean of Spark's compile-time histogram. The histogram keeps no
    * sum, and its decaying sample weights recent compiles most, so
    * its mean stands in for theirs (a difference of count × mean
    * taken before and after swings with the mean, even below 0). */
  private def compileMsOf(n: Long): Double =
    n * compileHistogram.getSnapshot.getMean

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus.toInt).master(s"local[$cpus]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/session warmup: exercise scan + shuffle + window + parquet paths
    // once so the first measured key isn't charged for startup.
    try {
      SparkEntry.queries.get("q_agg_basic").foreach(f => f(spark, sfDir).count())
      SparkEntry.queries.get("q_topk_per_group").foreach(f => f(spark, sfDir).count())
    } catch { case _: Throwable => () }

    val failed = scala.collection.mutable.ListBuffer[String]()
    // Optional args = key subset (substring match) for local iteration;
    // the driver always runs the full surface (no args).
    val keyFilter: String => Boolean =
      if (args.isEmpty) _ => true else k => args.exists(k.contains)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => keyFilter(kv._1)).map { case (name, fn) =>
      val compiles0 = compileCount()
      var lastDf: org.apache.spark.sql.DataFrame = null
      def once(): Double = {
        val t0 = System.nanoTime()
        try { val df = fn(spark, sfDir); df.count(); lastDf = df }
        catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
        }
        (System.nanoTime() - t0) / 1e9
      }
      // First-rep warmup inflation is visible on every heavy key
      // (r15 verdict #9: dsv2 4.19→2.29/2.20 — JIT/codegen/classload
      // on first touch of a key's code paths, not a plan property).
      // Detect it instead of paying a universal warmup rep: when the
      // FIRST run is both absolutely heavy (>2 s) and far above the
      // next two (>1.5× their max), take ONE extra run and median the
      // three post-warmup runs — only inflated keys pay the 4th rep,
      // and the recorded runs are the ones the median actually used
      // (the dropped warmup lands in `warmup` in bench_results.json).
      val r1 = once(); val r2 = once(); val r3 = once()
      val (base, warmupDropped) =
        if (r1 > 2.0 && r1 > 1.5 * math.max(r2, r3))
          (Vector(r2, r3, once()), Some(r1))
        else (Vector(r1, r2, r3), None)
      // Outlier rejection on ANY rep, not just rep 0 (r16+r17 verdicts
      // — ordered twice): a mid-sweep load spike landing on rep 1/2
      // poisons a plain median-of-3 (observed r17: q_cdc_dml_sql
      // [6.28, 4.28, 9.45] → median 6.28 vs 4.0-4.2 solo — the 9.45
      // pushed the 6.28 into the middle). A rep >2× the triple's min
      // (and >0.15 s over it — see isOutlierRep) is a spike, not a
      // measurement: drop it and take ONE replacement run, bounded at
      // 2 replacements per key so a genuinely bimodal key can't spin.
      // If the bound exhausts with a spike still present, the spike is
      // dropped WITHOUT replacement and the survivors are medianed
      // (mean-of-2) — the artifact records every dropped rep under
      // `outliers` so the rejection is auditable, never silent.
      var runs = base
      val outliers = scala.collection.mutable.ListBuffer[Double]()
      var extras = 0
      while (extras < 2 && spikeOf(runs).isDefined) {
        val s = spikeOf(runs).get
        outliers += s
        runs = runs.patch(runs.indexOf(s), Nil, 1) :+ once()
        extras += 1
      }
      spikeOf(runs).foreach { s =>
        outliers += s
        runs = runs.patch(runs.indexOf(s), Nil, 1) }
      // Plan fingerprint: md5 of the optimized plan with per-session
      // noise (expression ids #123, plan_id tags, object hashes)
      // normalized away. A key whose median moves while its
      // fingerprint matches the prior round's is an ENVIRONMENT
      // effect, not a plan change — the r12 q_llm_boilerplate mystery
      // (0.54→0.89 s, file untouched, no spill, warm-isolated back at
      // 0.55) would have been attributable in one glance. Read off the
      // last timed run's QueryExecution, so it costs no extra jobs;
      // iterative keys fingerprint their final-result plan only.
      val (fp, planText) =
        if (lastDf == null) ("", "")
        else try {
          val norm = lastDf.queryExecution.optimizedPlan.toString
            .replaceAll("#\\d+[L]?", "#")
            // lambda variables are named from a session-global counter
            // (x_1/y_3/z_7, x_41/y_43, …), so any HOF key shifts later
            // keys' names — the round-13 false-positive class
            // (semdedup/winnow/ts_decay/ts_holt, then the zip_with
            // y-variable round two; all flagged with identical plans)
            .replaceAll("\\b([a-z])_\\d+#", "$1_#")
            // JVM lambda class names (MapPartitions closures) carry a
            // per-session counter AND an address-like hex suffix:
            // Foo$$Lambda$2749/0x00007fca44d8f068
            .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
            .replaceAll("plan_id=\\d+", "plan_id=")
            // object identity hashes are 1-8 hex chars — the {6,}
            // floor let short ones through (observed: a UDAF anon
            // class rendering @fcea5 in one JVM, @ in the next)
            .replaceAll("@[0-9a-f]{1,16}\\b", "@")
            // session-cached catalog fixture tables carry the per-PID
            // fixture path's hashCode in their NAME (q_cdc_dml_sql /
            // q_cdc_ddl_sql convention `graft_<tag>_t_<digits>`) — the
            // RelationV2 node renders it, flapping the fingerprint per
            // JVM exactly like the raw fixture paths below
            .replaceAll("\\b(graft_[a-z0-9_]+_t)_\\d+", "$1_#")
            // per-PID fixture roots (Scans.fixtureDir) leak the JVM's
            // pid into scan paths — a fixture-reading key would flap
            // its fingerprint on every fresh JVM (observed r15:
            // q_scan_graft_dsv2)
            .replaceAll("/graft_fixtures/p\\d+", "/graft_fixtures/p#")
            // graft RelationV2 names pin the manifest VERSION
            // (`graft.`…``@v7`) — under the r17 pristine-restore
            // fixture discipline the version grows per rep instead of
            // resetting to 2, so an un-normalized fingerprint would
            // flap on every run of a lifecycle key. The version is
            // bench-noise, never plan shape: normalize on FIXTURE
            // paths only, so a genuine version pin in a user-query
            // plan (time travel) still fingerprints distinctly.
            .replaceAll("(/graft_fixtures/[^`]*`)@v\\d+", "$1@v#")
            // the bench catalog's name embeds the per-PID warehouse
            // path hash (q_cdc_catalog registers one catalog per
            // (session, sf)) — normalize like the fixture table names
            .replaceAll("\\bgbench_\\d+\\.", "gbench_#.")
            // constraint/predicate sets render their conjuncts in
            // ExpressionSet iteration order, which depends on exprId
            // hash values — a session-counter shift can reorder
            // "a AND b" with no plan change. Sort the outermost-level
            // conjuncts per line (paren-depth aware, ADVICE r13).
            .split("\n")
            .map(sortTopLevelConjuncts)
            .map(normalizeDistinctGids)
            .mkString("\n")
          (java.security.MessageDigest.getInstance("MD5")
            .digest(norm.getBytes("UTF-8"))
            .take(6).map("%02x".format(_)).mkString, norm)
        } catch { case _: Throwable => ("", "") }
      // Between keys (outside any timed window): `localCheckpoint`ed
      // frames are reclaimed by ContextCleaner only after their driver
      // references are GC'd, so a long all-keys run otherwise accretes
      // orphaned checkpoint blocks until the storage pool thrashes the
      // later keys (VERDICT r9: the graph family ran 2.8× slower in the
      // driver's 161-key sweep than in isolation). One explicit GC per
      // key keeps the pool at steady state; intentionally-shared frames
      // (Graph.memo) stay referenced and are unaffected.
      // drop the DataFrame reference BEFORE the gc: lastDf pins the
      // key's localCheckpoint lineage, and holding it across the gc
      // would defer block reclaim to the NEXT key's gc — re-creating
      // (one key late) the storage pressure this gc exists to clear
      lastDf = null
      val compiles = compileCount() - compiles0
      System.gc()
      KeyResult(name, medianOf(runs), runs, fp, planText, warmupDropped,
        outliers.toList, loadAvg(), compiles, compileMsOf(compiles))
    }
    val total = results.map(_.median).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Prior per-key medians: the bench_results.json the PREVIOUS round
    // committed (full precision, not the driver's truncated tail).
    // Cross-session totals drift ±1.5x with zero code changes, so raw
    // "slower than last round" is noise; the signal is a key that got
    // slower RELATIVE to how much this whole session drifted. drift =
    // median per-key ratio; a key regresses when its ratio exceeds
    // 1.5x the drift AND the excess is over an absolute floor (sub-
    // 0.15 s deltas on constant-cost trivia are scheduling jitter).
    val prior: Map[String, Double] =
      try {
        val txt = scala.io.Source.fromFile("bench_results.json").mkString
        // a prior at a DIFFERENT scale factor OR core count is not a
        // baseline — constant overhead vs data cost mix differently
        // per key, and local[4] vs local[32] medians differ 2-6x on
        // scheduling-bound keys (VERDICT r8: every flagged "regression"
        // was a cross-config artifact). Legacy priors without a cpus
        // field are treated as mismatched.
        if (!txt.contains(s""""sf":"$sfDir"""") ||
            !txt.contains(s""""cpus":"$cpus"""")) Map.empty
        else {
          // a key that FAILED in the prior run still recorded a median
          // (the elapsed time of the fast failure) — a bogus baseline
          // that would flag the now-recovered key as a huge regression
          val priorFailed = """"failed":\[([^\]]*)\]""".r
            .findFirstMatchIn(txt)
            .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
              .stripSuffix("\"")).filter(_.nonEmpty).toSet)
            .getOrElse(Set.empty[String])
          """"(q_[a-zA-Z0-9_]+)":\{"median":([0-9.]+)""".r
            .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble)
            .filterNot { case (k, _) => priorFailed.contains(k) }.toMap
        }
      } catch { case _: Throwable => Map.empty }
    // keys failing THIS round contribute near-zero medians — exclude
    // them from ratios so they neither drag the drift median down nor
    // appear as (meaningless) per-key ratios themselves
    val ratios = results.flatMap { r =>
      if (failed.contains(r.name)) None
      else prior.get(r.name).filter(_ > 0).map(p => (r.name, r.median, p, r.median / p)) }
    val drift =
      if (ratios.isEmpty) 1.0
      else ratios.map(_._4).sorted.apply(ratios.size / 2)
    val regressions = ratios.collect {
      case (k, m, p, r) if r > 1.5 * drift && m - drift * p > 0.15 => k
    }.sorted
    val regressionsJson = regressions.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Prior plan fingerprints (same bench_results.json): a key whose
    // median moved but whose fingerprint matches is an environment
    // effect; one whose fingerprint changed has a PLAN change to
    // explain. Reported as "plan_changed" alongside "regressions".
    val priorPlans: Map[String, String] =
      try {
        val txt = scala.io.Source.fromFile("bench_results.json").mkString
        if (!txt.contains(s""""sf":"$sfDir"""") ||
            !txt.contains(s""""cpus":"$cpus"""")) Map.empty
        else """"(q_[a-zA-Z0-9_]+)":\{"median":[^}]*"plan":"([0-9a-f]*)"""".r
          .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
      } catch { case _: Throwable => Map.empty }
    val planChanged = results.collect {
      case r if r.fp.nonEmpty &&
        priorPlans.get(r.name).exists(p => p.nonEmpty && p != r.fp) => r.name
    }.sorted
    val planChangedJson = planChanged.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Plan-text persistence (VERDICT r13 #6): bench_plans.json holds
    // the NORMALIZED plan text per key, so when a later run reports
    // plan_changed the prior text is already on disk and attribution
    // is a file diff, not a checkout + re-run. On a change, the
    // prior-vs-current pair is additionally dumped to
    // bench_plan_diffs.txt before bench_plans.json is overwritten.
    if (planChanged.nonEmpty) try {
      val priorTexts: Map[String, String] =
        try parsePlanTexts(
          scala.io.Source.fromFile("bench_plans.json").mkString)
        catch { case _: Throwable => Map.empty }
      val w = new java.io.PrintWriter("bench_plan_diffs.txt")
      try planChanged.foreach { k =>
        val cur = results.find(_.name == k).map(_.planText).getOrElse("")
        w.println(s"==== $k ==== PRIOR ====")
        w.println(priorTexts.getOrElse(k, "(no prior plan text recorded)"))
        w.println(s"==== $k ==== CURRENT ====")
        w.println(cur)
        w.println()
      } finally w.close()
    } catch { case _: Throwable => () }
    if (args.isEmpty) try {
      val w = new java.io.PrintWriter("bench_plans.json")
      try {
        val body = results.collect { case r if r.fp.nonEmpty =>
          s""""${r.name}":"${jsonEsc(r.planText)}"""" }.mkString("{", ",", "}")
        w.println(body)
      } finally w.close()
    } catch { case _: Throwable => () }

    // Full-precision artifact (all surviving runs per key — 3 normally,
    // 2 when the replacement bound exhausted — plus any rejected
    // `outliers` and the dropped `warmup`) for offline reads.
    val fullQs = results.map { r =>
      val KeyResult(k, m, rs, f, _, wu, outs, load, compiles, compileMs) = r
      val pr = prior.get(k).map(p => f""","prior":$p%.6f""").getOrElse("")
      val w = wu.map(x => f""","warmup":$x%.6f""").getOrElse("")
      val o = if (outs.isEmpty) ""
        else outs.map(x => f"$x%.6f").mkString(""","outliers":[""", ",", "]")
      val runsStr = rs.map(x => f"$x%.6f").mkString("[", ",", "]")
      // drift-normalized median (r19, judge's lever for absolute
      // per-key bars read from degraded windows): median / drift —
      // what this key would read in a drift-1.0 window, RAW median
      // kept alongside (normalization contextualizes, never replaces)
      val nrm =
        if (drift > 0 && !failed.contains(k))
          f""","normalized":${m / drift}%.6f"""
        else ""
      f""""$k":{"median":$m%.6f$nrm,"reps":${rs.size},"runs":$runsStr$pr$w$o,"load":$load%.2f,"plan":"$f","codegen_compiles":$compiles,"codegen_compile_ms":$compileMs%.1f}"""
    }.mkString("{", ",", "}")
    // header `reps` is the PROTOCOL (3 timed reps per key);
    // `min_surviving_reps` records the floor after outlier drops
    // (r18 ADVICE: a hardcoded 3 misread when a key survived with 2)
    val minReps =
      if (results.isEmpty) 3 else results.map(_.runs.size).min
    val full = f"""{"metric":"total","value":$total%.6f,"unit":"sec","reps":3,"min_surviving_reps":$minReps,"stat":"median","cpus":"$cpus","drift":$drift%.4f,"regressions":$regressionsJson,"plan_changed":$planChangedJson,"queries":$fullQs,"failed":$failedJson,"sf":"$sfDir"}"""
    // A filtered run must not clobber the full-surface baseline the
    // regression gate reads.
    if (args.isEmpty) try {
      val w = new java.io.PrintWriter("bench_results.json")
      try w.println(full) finally w.close()
    } catch { case _: Throwable => () }

    // Per-key line first (may exceed the driver's 2000-char output tail at
    // 95+ keys), then a SHORT total-only line as the true final line so the
    // tail always contains a parseable total even when the per-key line's
    // head is truncated (BENCH_r05 "parsed": null — VERDICT r5 #4). Full
    // per-key data lives in bench_results.json either way.
    val qs = results.map(r => f""""${r.name}":${r.median}%.3f""")
      .mkString("{", ",", "}")
    println(f"""{"metric":"per_key","queries":$qs,"sf":"$sfDir"}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":3,"stat":"median","keys":${results.size},"cpus":"$cpus","drift":$drift%.2f,"regressions":$regressionsJson,"plan_changed":$planChangedJson,"failed":$failedJson,"detail":"bench_results.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
