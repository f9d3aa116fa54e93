package graft.ops.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** SQL-text face of [[MergeInto]] — parses the actual ANSI/Delta
  * `MERGE INTO … USING … ON … WHEN …` statement a user types and
  * lowers it onto [[MergeInto.MergeBuilder]], so both entry points
  * share one execution shape (single key-shuffled join + per-row
  * CASE, duplicate-source guard riding the join's exchange) and one
  * semantics (first-true clause wins, default keep, ANSI dup rules).
  *
  * Spark's own parser only accepts MERGE against DSv2 catalog tables,
  * which is why this focused statement parser exists: it makes the
  * statement work against ANY DataFrame the session can name (temp
  * views, catalog tables, or an inline `USING (SELECT …)` subquery).
  *
  * Grammar (case-insensitive keywords):
  * {{{
  * MERGE [WITH SCHEMA EVOLUTION] INTO <rel> [AS] [alias]
  * USING <rel> [AS] [alias]
  * ON <equi-conjunction: a.k = b.k [AND …]>
  * { WHEN MATCHED [AND <cond>] THEN { UPDATE SET <col=expr,…|*> | DELETE }
  * | WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN
  *       { INSERT (cols) VALUES (exprs) | INSERT * }
  * | WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
  *       { UPDATE SET <col=expr,…|*> | DELETE } }+
  * }}}
  * where `<rel>` is a (possibly qualified) name resolved via
  * `spark.table`, or a parenthesized subquery run via `spark.sql`.
  *
  * Parsing strategy — the robust part is what is NOT hand-parsed:
  * only the statement SKELETON (keywords, clause boundaries, the ON
  * equi-conjunction, assignment targets) is recognized here, from a
  * quote/paren/CASE-aware token stream that keeps source offsets.
  * Every condition and value EXPRESSION is sliced out of the original
  * statement text by offset and handed to Spark's own
  * `functions.expr`, so the full Spark SQL expression language works
  * verbatim (CASE, casts, lambdas, literals containing `WHEN`/`AND`).
  * Clause boundaries respect nesting: `THEN`/`AND`/`WHEN`/`,` split
  * only at paren depth 0 AND CASE depth 0, and never inside quotes
  * (quotes are single tokens).
  *
  * Alias handling: the builder addresses the two sides as nested
  * structs `t`/`s`. The parser maps the statement's aliases (or the
  * relations' simple names when no alias is given) onto `t`/`s` by
  * rewriting exactly the IDENT tokens that (a) equal an alias
  * case-insensitively and (b) are immediately followed by `.` —
  * token-level, so string literals and backticked identifiers are
  * never touched. Column references in conditions/values must be
  * qualified (`c.bal`, `u.add`) — same rule the builder documents.
  *
  * Scale: identical to the builder by construction — lowering
  * produces the same plan, so everything MergeInto's scaladoc says
  * about the single shuffle, broadcastability, and the O(changes)
  * table path applies unchanged.
  */
object MergeSql {

  // ---------------------------------------------------------------
  // Tokenizer
  // ---------------------------------------------------------------

  private[cdc] final val IDENT = 0
  private[cdc] final val STR   = 1
  private[cdc] final val NUM   = 2
  private[cdc] final val PUNCT = 3

  /** raw = exact source slice; upper = uppercase (idents only, for
    * keyword matching); [start,end) = offsets into the statement. */
  private[cdc] final case class Tok(raw: String, upper: String, kind: Int,
                               start: Int, end: Int)

  private[cdc] def fail(sql: String, pos: Int, msg: String): Nothing = {
    val ctx = sql.substring(math.max(0, pos - 20),
      math.min(sql.length, pos + 20)).replace('\n', ' ')
    throw new IllegalArgumentException(
      s"MERGE SQL parse error at offset $pos near '…$ctx…': $msg")
  }

  private[cdc] def tokenize(sql: String): IndexedSeq[Tok] = {
    val out = Vector.newBuilder[Tok]
    val n = sql.length
    var i = 0
    def isIdStart(c: Char) = c.isLetter || c == '_'
    def isIdPart(c: Char)  = c.isLetterOrDigit || c == '_' || c == '$'
    while (i < n) {
      val c = sql(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
        while (i < n && sql(i) != '\n') i += 1
      } else if (c == '\'' || c == '"') {
        // string literal; '' / "" and backslash escapes stay inside
        val start = i; i += 1
        var closed = false
        while (i < n && !closed) {
          if (sql(i) == '\\' && i + 1 < n) i += 2
          else if (sql(i) == c) {
            if (i + 1 < n && sql(i + 1) == c) i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
        if (!closed) fail(sql, start, "unterminated string literal")
        out += Tok(sql.substring(start, i), "", STR, start, i)
      } else if (c == '`') {
        val start = i; i += 1
        while (i < n && sql(i) != '`') i += 1
        if (i >= n) fail(sql, start, "unterminated backtick identifier")
        i += 1
        out += Tok(sql.substring(start, i), "", STR, start, i)
      } else if (isIdStart(c)) {
        val start = i
        while (i < n && isIdPart(sql(i))) i += 1
        val raw = sql.substring(start, i)
        out += Tok(raw, raw.toUpperCase, IDENT, start, i)
      } else if (c.isDigit) {
        val start = i
        while (i < n && (sql(i).isLetterOrDigit || sql(i) == '.')) i += 1
        out += Tok(sql.substring(start, i), "", NUM, start, i)
      } else {
        // greedy multi-char operators so reassembly-by-offset never
        // needs to re-split them; everything else is a single char
        val three = if (i + 3 <= n) sql.substring(i, i + 3) else ""
        val two   = if (i + 2 <= n) sql.substring(i, i + 2) else ""
        val len =
          if (three == "<=>") 3
          else if (Set("<=", ">=", "<>", "!=", "==", "||", "&&", "->").contains(two)) 2
          else 1
        out += Tok(sql.substring(i, i + len), "", PUNCT, i, i + len)
        i += len
      }
    }
    out.result()
  }

  // ---------------------------------------------------------------
  // Skeleton AST (expressions stay as [from,until) token ranges)
  // ---------------------------------------------------------------

  private sealed trait Rel
  private final case class NamedRel(name: String, simple: String) extends Rel
  private final case class SubqueryRel(sqlText: String) extends Rel

  private sealed trait Sets
  private case object SetStar extends Sets
  private final case class SetList(assigns: Seq[(String, (Int, Int))]) extends Sets

  private sealed trait Ins
  private case object InsertStar extends Ins
  private final case class InsertList(cols: Seq[String],
                                      values: Seq[(Int, Int)]) extends Ins

  private sealed trait RawClause { def cond: Option[(Int, Int)] }
  private final case class RUpdate(cond: Option[(Int, Int)], sets: Sets,
                                   bySource: Boolean) extends RawClause
  private final case class RDelete(cond: Option[(Int, Int)],
                                   bySource: Boolean) extends RawClause
  private final case class RInsert(cond: Option[(Int, Int)],
                                   ins: Ins) extends RawClause

  private final case class RawMerge(sql: String, toks: IndexedSeq[Tok],
                                    target: Rel, tAlias: Option[String],
                                    source: Rel, sAlias: Option[String],
                                    on: (Int, Int), clauses: Vector[RawClause],
                                    withSchemaEvolution: Boolean)

  // ---------------------------------------------------------------
  // Statement parser
  // ---------------------------------------------------------------

  private def parseStatement(sql: String): RawMerge = {
    val toks = tokenize(sql)
    var i = 0
    def cur: Tok =
      if (i < toks.length) toks(i)
      else fail(sql, sql.length, "unexpected end of statement")
    def isKw(k: String): Boolean =
      i < toks.length && toks(i).kind == IDENT && toks(i).upper == k
    def expectKw(k: String): Unit =
      if (isKw(k)) i += 1
      else fail(sql, if (i < toks.length) cur.start else sql.length,
        s"expected $k" + (if (i < toks.length) s", found '${cur.raw}'" else ""))
    def expectPunct(p: String): Unit =
      if (i < toks.length && cur.kind == PUNCT && cur.raw == p) i += 1
      else fail(sql, if (i < toks.length) cur.start else sql.length,
        s"expected '$p'")

    /** Scan from `i` until a stop keyword at paren depth 0 and CASE
      * depth 0 (or a depth-0 stop punct), returning [from,until). */
    def scanExpr(stopKw: Set[String], stopPunct: Set[String]): (Int, Int) = {
      val from = i
      var depth = 0
      var caseDepth = 0
      var done = false
      while (!done && i < toks.length) {
        val t = toks(i)
        if (t.kind == PUNCT && (t.raw == "(" || t.raw == "[")) { depth += 1; i += 1 }
        else if (t.kind == PUNCT && (t.raw == ")" || t.raw == "]")) {
          if (depth == 0 && stopPunct.contains(t.raw)) done = true
          else { depth -= 1; i += 1 }
        }
        else if (t.kind == IDENT && t.upper == "CASE") { caseDepth += 1; i += 1 }
        else if (t.kind == IDENT && t.upper == "END" && caseDepth > 0) { caseDepth -= 1; i += 1 }
        else if (depth == 0 && caseDepth == 0 && t.kind == IDENT &&
                 stopKw.contains(t.upper)) done = true
        else if (depth == 0 && caseDepth == 0 && t.kind == PUNCT &&
                 stopPunct.contains(t.raw)) done = true
        else i += 1
      }
      if (i == from) fail(sql, cur.start, "empty expression")
      (from, i)
    }

    def parseRelation(): Rel = {
      if (cur.kind == PUNCT && cur.raw == "(") {
        val open = cur; i += 1
        var depth = 1
        val from = i
        while (depth > 0) {
          if (i >= toks.length) fail(sql, open.start, "unbalanced '(' in relation")
          val t = toks(i)
          if (t.kind == PUNCT && t.raw == "(") depth += 1
          else if (t.kind == PUNCT && t.raw == ")") depth -= 1
          if (depth > 0) i += 1
        }
        val text = sql.substring(toks(from).start, toks(i - 1).end)
        i += 1 // consume ')'
        SubqueryRel(text)
      } else if (cur.kind == IDENT || cur.kind == STR) {
        val parts = Vector.newBuilder[String]
        parts += cur.raw; i += 1
        while (i < toks.length && cur.kind == PUNCT && cur.raw == "." &&
               i + 1 < toks.length && (toks(i + 1).kind == IDENT || toks(i + 1).kind == STR)) {
          i += 1; parts += cur.raw; i += 1
        }
        val ps = parts.result()
        NamedRel(ps.mkString("."), ps.last.stripPrefix("`").stripSuffix("`"))
      } else fail(sql, cur.start, "expected a table name or (subquery)")
    }

    val reserved = Set("USING", "ON", "WHEN", "AS")
    def parseAlias(): Option[String] = {
      if (isKw("AS")) { i += 1 }
      if (i < toks.length && cur.kind == IDENT && !reserved.contains(cur.upper)) {
        val a = cur.raw; i += 1; Some(a)
      } else None
    }

    expectKw("MERGE")
    // Delta's `MERGE WITH SCHEMA EVOLUTION INTO …` — source-extra
    // columns evolve the target before the clauses resolve
    val withSchemaEvolution =
      if (isKw("WITH")) {
        i += 1; expectKw("SCHEMA"); expectKw("EVOLUTION"); true
      } else false
    expectKw("INTO")
    val target = parseRelation(); val tAlias = parseAlias()
    expectKw("USING")
    val source = parseRelation(); val sAlias = parseAlias()
    expectKw("ON")
    val on = scanExpr(Set("WHEN"), Set.empty)

    def parseAssignments(): Sets = {
      if (cur.kind == PUNCT && cur.raw == "*") { i += 1; SetStar }
      else {
        val assigns = Vector.newBuilder[(String, (Int, Int))]
        var more = true
        while (more) {
          if (cur.kind != IDENT && cur.kind != STR)
            fail(sql, cur.start, "expected a column name in SET")
          var colName = cur.raw.stripPrefix("`").stripSuffix("`"); i += 1
          // optional target qualifier: `t.col` / `<alias>.col`
          if (i + 1 < toks.length && cur.kind == PUNCT && cur.raw == "." &&
              (toks(i + 1).kind == IDENT || toks(i + 1).kind == STR)) {
            i += 1
            colName = cur.raw.stripPrefix("`").stripSuffix("`"); i += 1
          }
          expectPunct("=")
          val range = scanExpr(Set("WHEN"), Set(","))
          assigns += ((colName, range))
          if (i < toks.length && cur.kind == PUNCT && cur.raw == ",") { i += 1 }
          else more = false
        }
        SetList(assigns.result())
      }
    }

    def parseInsert(): Ins = {
      if (cur.kind == PUNCT && cur.raw == "*") { i += 1; InsertStar }
      else {
        expectPunct("(")
        val cols = Vector.newBuilder[String]
        var more = true
        while (more) {
          if (cur.kind != IDENT && cur.kind != STR)
            fail(sql, cur.start, "expected a column name in INSERT (…)")
          cols += cur.raw.stripPrefix("`").stripSuffix("`"); i += 1
          if (cur.kind == PUNCT && cur.raw == ",") i += 1 else more = false
        }
        expectPunct(")")
        expectKw("VALUES")
        expectPunct("(")
        val values = Vector.newBuilder[(Int, Int)]
        more = true
        while (more) {
          values += scanExpr(Set.empty, Set(",", ")"))
          if (cur.kind == PUNCT && cur.raw == ",") i += 1 else more = false
        }
        expectPunct(")")
        val (cs, vs) = (cols.result(), values.result())
        if (cs.length != vs.length)
          fail(sql, toks(i - 1).end,
            s"INSERT has ${cs.length} columns but ${vs.length} values")
        InsertList(cs, vs)
      }
    }

    val clauses = Vector.newBuilder[RawClause]
    if (!isKw("WHEN")) fail(sql, cur.start, "MERGE needs at least one WHEN clause")
    while (i < toks.length) {
      expectKw("WHEN")
      var matched = true
      var bySource = false
      if (isKw("MATCHED")) i += 1
      else if (isKw("NOT")) {
        i += 1; expectKw("MATCHED"); matched = false
        if (isKw("BY")) {
          i += 1
          if (isKw("SOURCE")) { bySource = true; i += 1 }
          else if (isKw("TARGET")) i += 1
          else fail(sql, cur.start, "expected SOURCE or TARGET after BY")
        }
      } else fail(sql, cur.start, "expected MATCHED or NOT MATCHED")
      val cond =
        if (isKw("AND")) { i += 1; Some(scanExpr(Set("THEN"), Set.empty)) }
        else None
      expectKw("THEN")
      if (isKw("UPDATE")) {
        i += 1; expectKw("SET")
        if (!matched && !bySource)
          fail(sql, cur.start, "WHEN NOT MATCHED [BY TARGET] only supports INSERT")
        clauses += RUpdate(cond, parseAssignments(), bySource)
      } else if (isKw("DELETE")) {
        i += 1
        if (!matched && !bySource)
          fail(sql, cur.start, "WHEN NOT MATCHED [BY TARGET] only supports INSERT")
        clauses += RDelete(cond, bySource)
      } else if (isKw("INSERT")) {
        i += 1
        if (matched || bySource)
          fail(sql, cur.start, "INSERT is only valid in WHEN NOT MATCHED [BY TARGET]")
        clauses += RInsert(cond, parseInsert())
      } else fail(sql, cur.start, "expected UPDATE SET, DELETE or INSERT")
    }
    RawMerge(sql, toks, target, tAlias, source, sAlias, on,
      clauses.result(), withSchemaEvolution)
  }

  // ---------------------------------------------------------------
  // Lowering
  // ---------------------------------------------------------------

  /** Slice [from,until) back out of the original statement text,
    * rewriting alias-qualifier IDENT tokens (alias immediately
    * followed by `.`) to `t`/`s`. Token-level, so quoted strings and
    * backticked identifiers pass through byte-exact. */
  private def exprText(m: RawMerge, range: (Int, Int),
                       aliasMap: Map[String, String]): String = {
    val (from, until) = range
    val sb = new StringBuilder
    var pos = m.toks(from).start
    var i = from
    while (i < until) {
      val t = m.toks(i)
      if (t.kind == IDENT && aliasMap.contains(t.upper) &&
          i + 1 < until && m.toks(i + 1).kind == PUNCT && m.toks(i + 1).raw == ".") {
        sb.append(m.sql.substring(pos, t.start)).append(aliasMap(t.upper))
        pos = t.end
      }
      i += 1
    }
    sb.append(m.sql.substring(pos, m.toks(until - 1).end))
    sb.toString
  }

  /** The ON clause must be a conjunction of same-named equi-key
    * predicates (`a.k = b.k [AND …]`) — that is [[MergeInto]]'s key
    * contract (one key-shuffled join; arbitrary theta ON would force
    * an all-pairs plan). Returns the keys in statement order. */
  private def parseKeys(m: RawMerge, tAliases: Set[String],
                        sAliases: Set[String]): Seq[String] = {
    val (from, until) = m.on
    // split on depth-0, CASE-depth-0 AND
    val conjuncts = Vector.newBuilder[(Int, Int)]
    var depth = 0; var caseDepth = 0; var start = from
    var i = from
    while (i < until) {
      val t = m.toks(i)
      if (t.kind == PUNCT && (t.raw == "(" || t.raw == "[")) depth += 1
      else if (t.kind == PUNCT && (t.raw == ")" || t.raw == "]")) depth -= 1
      else if (t.kind == IDENT && t.upper == "CASE") caseDepth += 1
      else if (t.kind == IDENT && t.upper == "END" && caseDepth > 0) caseDepth -= 1
      else if (t.kind == IDENT && t.upper == "AND" && depth == 0 && caseDepth == 0) {
        conjuncts += ((start, i)); start = i + 1
      }
      i += 1
    }
    conjuncts += ((start, until))
    conjuncts.result().map { case (f0, u0) =>
      // strip one level of wrapping parens: ON (t.k = s.k)
      var f = f0; var u = u0
      while (u - f >= 2 && m.toks(f).raw == "(" && m.toks(u - 1).raw == ")" && {
        // only strip if they actually match each other
        var d = 0; var ok = true
        var j = f
        while (j < u - 1) {
          if (m.toks(j).raw == "(") d += 1
          else if (m.toks(j).raw == ")") { d -= 1; if (d == 0) ok = false }
          j += 1
        }
        ok
      }) { f += 1; u -= 1 }
      val ts = (f until u).map(m.toks)
      def bad(): Nothing = fail(m.sql, m.toks(f).start,
        "ON must be a conjunction of equi-key predicates of the form " +
        "'<targetAlias>.k = <sourceAlias>.k' (same column name both sides)")
      if (ts.length != 7) bad()
      val Seq(q1, d1, c1, eq, q2, d2, c2) = ts
      if (d1.raw != "." || d2.raw != "." || eq.raw != "=" ||
          q1.kind != IDENT || q2.kind != IDENT) bad()
      def side(q: Tok): Char =
        if (tAliases.contains(q.upper)) 'T'
        else if (sAliases.contains(q.upper)) 'S'
        else fail(m.sql, q.start,
          s"'${q.raw}' is neither the target nor the source alias")
      val (tc, sc) =
        (side(q1), side(q2)) match {
          case ('T', 'S') => (c1, c2)
          case ('S', 'T') => (c2, c1)
          case _ => bad()
        }
      val tName = tc.raw.stripPrefix("`").stripSuffix("`")
      val sName = sc.raw.stripPrefix("`").stripSuffix("`")
      if (tName.toLowerCase != sName.toLowerCase)
        fail(m.sql, tc.start,
          s"ON key columns must have the same name on both sides " +
          s"(got '$tName' = '$sName'); rename in the source relation first")
      tName
    }
  }

  private def resolveRel(spark: SparkSession, r: Rel): DataFrame = r match {
    case NamedRel(name, _) => spark.table(name)
    case SubqueryRel(q)    => spark.sql(q)
  }

  /** Parse `sqlText` and lower it onto a ready-to-run
    * [[MergeInto.MergeBuilder]] (relations resolved via the session's
    * catalog / `spark.sql`). Callers pick the ending: `.resolve()`
    * for the post-merge frame, or hand the pieces to
    * [[MergeInto.mergeIntoTable]] via [[statementIntoTable]]. */
  def builder(spark: SparkSession, sqlText: String): MergeInto.MergeBuilder =
    builderWithMeta(spark, sqlText)._1

  /** [[builder]] plus the statement's WITH SCHEMA EVOLUTION flag —
    * ONE parse for callers ([[statementIntoTable]]) that need both; a
    * separate parseStatement for the flag alone doubled the parser
    * work and left two parses free to diverge. */
  def builderWithMeta(spark: SparkSession, sqlText: String)
      : (MergeInto.MergeBuilder, Boolean) = {
    val m = parseStatement(sqlText)
    val tgt0 = resolveRel(spark, m.target)
    val src = resolveRel(spark, m.source)
    // WITH SCHEMA EVOLUTION, frame semantics: new columns the clauses
    // ASSIGN (explicit SET/INSERT names; star = every source column,
    // Delta's rule) join the target as typed nulls BEFORE the clauses
    // resolve, so checkCols passes and star-maps cover them — while
    // un-assigned source payload columns never leak into the target.
    // (The persisted path additionally evolves the TABLE —
    // statementIntoTable passes mergeSchema to mergeIntoTable.)
    val tgt =
      if (!m.withSchemaEvolution) tgt0
      else {
        val assigned: Set[String] = m.clauses.flatMap {
          case RUpdate(_, SetStar, _) => src.columns.toSeq
          case RUpdate(_, SetList(as), _) => as.map(_._1)
          case RInsert(_, InsertStar) => src.columns.toSeq
          case RInsert(_, InsertList(cols, _)) => cols
          case _ => Nil
        }.map(_.toLowerCase.stripPrefix("`").stripSuffix("`")).toSet
        val have = tgt0.columns.map(_.toLowerCase).toSet
        src.schema.fields
          .filter(f => assigned(f.name.toLowerCase) &&
            !have(f.name.toLowerCase))
          .foldLeft(tgt0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
      }
    def aliases(r: Rel, a: Option[String]): Set[String] = a match {
      case Some(x) => Set(x.toUpperCase)
      case None => r match {
        case NamedRel(_, simple) => Set(simple.toUpperCase)
        case SubqueryRel(_) => Set.empty
      }
    }
    val tA = aliases(m.target, m.tAlias)
    val sA = aliases(m.source, m.sAlias)
    val overlap = tA intersect sA
    if (overlap.nonEmpty)
      throw new IllegalArgumentException(
        s"MERGE SQL: alias '${overlap.head}' is ambiguous between target and source")
    val aliasMap = tA.map(_ -> "t").toMap ++ sA.map(_ -> "s").toMap
    val keys = parseKeys(m, tA, sA)
    val tCols = tgt.columns.toSeq
    val sColsLower = src.columns.map(_.toLowerCase).toSet
    // SET/INSERT column names resolve against the target schema
    // CASE-INSENSITIVELY (Spark's default resolution; DmlSql does the
    // same with equalsIgnoreCase — the two SQL faces must agree):
    // user-typed 'Bal_Cents' canonicalizes to the target's field name
    // before MergeInto's exact-Map clause machinery sees it. A name
    // that is no target column passes through as typed — checkCols
    // rejects it with the specific non-target-column error.
    val canonName: Map[String, String] = tCols.map(c => c.toLowerCase -> c).toMap
    def canon(c: String): String = canonName.getOrElse(c.toLowerCase, c)
    def starMap: Map[String, Column] = {
      val hit = tCols.filter(c => sColsLower.contains(c.toLowerCase))
      require(hit.nonEmpty,
        "MERGE SQL: '*' matched no target column present in the source")
      hit.map(c => c -> col(s"s.$c")).toMap
    }
    def ex(range: (Int, Int)): Column = expr(exprText(m, range, aliasMap))
    val clauses: Vector[MergeInto.Clause] = m.clauses.map {
      case RUpdate(cond, sets, bySource) =>
        val setMap = sets match {
          case SetStar => starMap
          case SetList(as) =>
            require(as.map(_._1.toLowerCase).distinct.length == as.length,
              "MERGE SQL: duplicate column in SET")
            as.map { case (c, r) => canon(c) -> ex(r) }.toMap
        }
        if (bySource) MergeInto.NotMatchedBySourceUpdate(cond.map(ex), setMap)
        else MergeInto.MatchedUpdate(cond.map(ex), setMap)
      case RDelete(cond, bySource) =>
        if (bySource) MergeInto.NotMatchedBySourceDelete(cond.map(ex))
        else MergeInto.MatchedDelete(cond.map(ex))
      case RInsert(cond, ins) =>
        val values = ins match {
          case InsertStar => starMap
          case InsertList(cols, vals) =>
            require(cols.map(_.toLowerCase).distinct.length == cols.length,
              "MERGE SQL: duplicate column in INSERT (…)")
            cols.zip(vals).map { case (c, r) => canon(c) -> ex(r) }.toMap
        }
        MergeInto.NotMatchedInsert(cond.map(ex), values)
    }
    (MergeInto.MergeBuilder(tgt, src, keys, clauses), m.withSchemaEvolution)
  }

  /** Statement in, post-merge target state out — the SQL twin of
    * [[MergeInto.MergeBuilder.resolve]]. */
  def resolveStatement(spark: SparkSession, sqlText: String): DataFrame =
    builder(spark, sqlText).resolve()

  /** Statement in, persisted [[PartitionedUpsert]] merge out: the
    * statement's clauses/keys lower onto [[MergeInto.mergeIntoTable]]
    * against the table at `dir` (the statement's target NAME is
    * nominal — the table's manifest is authoritative, and the
    * statement's single ON key must be the table key). */
  def statementIntoTable(spark: SparkSession, sqlText: String, dir: String,
                         lsn: Long, txn: Option[(String, Long)] = None): Seq[Long] = {
    val (b, wse) = builderWithMeta(spark, sqlText)
    val m = PartitionedUpsert.manifestOrFail(spark, dir)
    if (b.keys.length == 1) {
      require(m.keyCol.equalsIgnoreCase(b.keys.head),
        s"ON key '${b.keys.head}' is not the table key '${m.keyCol}'")
      MergeInto.mergeIntoTable(spark, dir, b.source, m.keyCol, b.clauses, lsn,
        txn, mergeSchema = wse)
    } else {
      // COMPOSITE keys through the SQL face (r16): a multi-conjunct ON
      // (t.region = s.region AND t.id = s.id) routes through the
      // table's STRUCT-SURROGATE key — the documented composite
      // pattern (ScaleSpec's native path): the manifest key must be a
      // struct whose fields are exactly the ON columns; the source
      // gains the surrogate (field-ordered, field-typed — routing
      // hashes the VALUE, so the cast is what keeps a long-vs-int
      // source from bucketing elsewhere), and INSERT's key-field
      // VALUES fold into one struct assignment. SET of a key field is
      // the same rebucketing hazard as SET of the key — rejected.
      import org.apache.spark.sql.types.StructType
      val keyCol = m.keyCol
      val kf = m.schema(keyCol).dataType match {
        case st: StructType => st
        case other => throw new IllegalArgumentException(
          s"multi-column ON keys (${b.keys.mkString(",")}) need a " +
            s"struct-keyed table; '$keyCol' is ${other.catalogString} — " +
            "pack the composite key into a struct column at init")
      }
      require(kf.fieldNames.map(_.toLowerCase).toSet ==
          b.keys.map(_.toLowerCase).toSet,
        s"ON columns (${b.keys.mkString(",")}) must be exactly the " +
          s"fields of the table's composite key '$keyCol' " +
          s"(${kf.fieldNames.mkString(",")})")
      val keyFieldsL = kf.fieldNames.map(_.toLowerCase).toSet
      def srcCol(name: String): Column = {
        val actual = b.source.columns
          .find(_.equalsIgnoreCase(name)).getOrElse(name)
        col(actual)
      }
      val srcK = b.source.withColumn(keyCol,
        struct(kf.fields.toSeq.map(f =>
          srcCol(f.name).cast(f.dataType).as(f.name)): _*))
      def noKeyFields(what: String, set: Map[String, Column]): Unit = {
        val hit = set.keys.filter(c => keyFieldsL.contains(c.toLowerCase))
        require(hit.isEmpty,
          s"MERGE $what must not change key field(s) ${hit.mkString(",")} " +
            s"of composite key '$keyCol' — use delete+insert")
      }
      val clauses2 = b.clauses.map {
        case MergeInto.MatchedUpdate(c, set) =>
          noKeyFields("update SET", set); MergeInto.MatchedUpdate(c, set)
        case MergeInto.NotMatchedBySourceUpdate(c, set) =>
          noKeyFields("by-source update SET", set)
          MergeInto.NotMatchedBySourceUpdate(c, set)
        case MergeInto.NotMatchedInsert(c, values) =>
          val (keyVals, rest) = values.partition { case (n, _) =>
            keyFieldsL.contains(n.toLowerCase) }
          require(keyVals.size == kf.fields.length,
            s"MERGE insert VALUES must set every key column of " +
              s"'$keyCol' (${kf.fieldNames.mkString(",")})")
          val keyValsL = keyVals.map { case (n, v) => n.toLowerCase -> v }
          val packed = struct(kf.fields.toSeq.map(f =>
            keyValsL(f.name.toLowerCase).cast(f.dataType).as(f.name)): _*)
          MergeInto.NotMatchedInsert(c, rest + (keyCol -> packed))
        case other => other
      }
      MergeInto.mergeIntoTable(spark, dir, srcK, keyCol, clauses2, lsn,
        txn, mergeSchema = wse)
    }
  }

  /** Structural validation only — parses the statement skeleton and
    * throws the specific parse error a malformed MERGE deserves;
    * resolves nothing. The parser injection
    * ([[graft.plans.GraftSqlParser]]) calls this at parse time, when
    * the catalog cannot be consulted. */
  def validateStatement(sqlText: String): Unit = { parseStatement(sqlText); () }

  /** The statement's target NAME, parse-only (None for a subquery
    * target) — the parser command's non-graft fallback probe. */
  def targetName(sqlText: String): Option[String] =
    parseStatement(sqlText).target match {
      case NamedRel(n, _) => Some(n)
      case SubqueryRel(_) => None
    }

  /** [[mergeCatalogTable]] with the lsn derived instead of passed:
    * target manifest version + 1 — monotone across commits, no clock
    * (the INSERT INTO rule). This is what `spark.sql("MERGE INTO …")`
    * runs via the injected parser, passing the `location` it already
    * resolved; None resolves it here. */
  def mergeCatalogTableAuto(spark: SparkSession, sqlText: String,
                            location: Option[String] = None): Seq[Long] = {
    val m = parseStatement(sqlText)
    val name = m.target match {
      case NamedRel(n, _) => n
      case SubqueryRel(_) => throw new IllegalArgumentException(
        "MERGE INTO (subquery) cannot target a persisted table")
    }
    val dir = location.getOrElse(tableLocation(spark, name))
    val lsn = PartitionedUpsert.manifestOrFail(spark, dir).version + 1
    statementIntoTable(spark, sqlText, dir, lsn)
  }

  /** The full Delta-shaped experience: `MERGE INTO <catalog table>
    * USING …` where the target is a `USING graft` catalog table —
    * the table's LOCATION is resolved through the public DESCRIBE
    * surface and the statement lowers onto the persisted
    * bucket-pruned path. With this, a user's entire MERGE workflow
    * (CREATE TABLE … USING graft LOCATION …, then statement-text
    * merges against the NAME) runs with no path in sight. */
  def mergeCatalogTable(spark: SparkSession, sqlText: String, lsn: Long,
                        txn: Option[(String, Long)] = None): Seq[Long] = {
    val m = parseStatement(sqlText)
    val name = m.target match {
      case NamedRel(n, _) => n
      case SubqueryRel(_) => throw new IllegalArgumentException(
        "MERGE INTO (subquery) cannot target a persisted table")
    }
    statementIntoTable(spark, sqlText, tableLocation(spark, name), lsn, txn)
  }

  /** Catalog-table location via the public DESCRIBE surface (no
    * internal catalog classes): a v1-registered table carries a
    * `Location` row; a DSv2 graft table carries its dir inside the
    * `Name` row ([[graft.sources.GraftTable]] renders
    * ``graft.`<dir>`@v<version>`` — our own stable format). Temp
    * views have neither — the clear error tells the caller to use
    * [[resolveStatement]] (pure-frame) instead. One driver-side
    * command and no Spark job: the command's rows are collected as
    * they are and searched on the driver (a `filter` over them would
    * plan and run a job); the table-information rows follow the
    * column rows, so they win a name clash. A SQL statement resolves
    * its target once, in the parser command's fallback probe, and
    * passes the result down. */
  private[cdc] def tableLocation(spark: SparkSession, name: String): String = {
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    desc.get("Location")
      .orElse(desc.get("Name").collect {
        case n if n.startsWith("graft.`") && n.lastIndexOf("`@v") > 7 =>
          n.substring(7, n.lastIndexOf("`@v"))
      })
      .getOrElse(throw new IllegalArgumentException(
        s"'$name' has no resolvable location (a temp view?) — " +
        "persisted DML (MERGE/UPDATE/DELETE) needs a graft catalog " +
        "table; for view targets use MergeSql.resolveStatement"))
  }

  // ---------------------------------------------------------------
  // Oracled fixture — the statement-text twin of q_cdc_merge_into
  // ---------------------------------------------------------------

  /** The exact clause ladder of [[MergeInto.qCdcMergeInto]] written
    * as STATEMENT TEXT with user aliases (`c`/`u`) — the key proves
    * the parser+lowering path end-to-end against the same DuckDB
    * oracle the builder key uses (any skeleton mis-parse, alias
    * mis-rewrite, or clause-order bug diverges the hash). Fixture
    * frames are registered as temp views; measures are exact integer
    * cents (see the builder key's scaladoc for the grid rationale). */
  def qCdcMergeSql(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "customer").select(
      $"c_custkey",
      round($"c_acctbal" * 100.0, 0).cast("long").as("bal_cents"),
      $"c_mktsegment".as("seg"))
      .createOrReplaceTempView("merge_sql_tgt")
    Tables.table(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100.0, 0).cast("long")).as("add_cents"),
        count(lit(1)).as("n"))
      .select(
        when($"o_custkey" % 97 === 0, $"o_custkey" + 100000000L)
          .otherwise($"o_custkey").as("c_custkey"),
        $"add_cents", $"n")
      .createOrReplaceTempView("merge_sql_src")
    resolveStatement(spark,
      """MERGE INTO merge_sql_tgt AS c
        |USING merge_sql_src AS u
        |ON c.c_custkey = u.c_custkey
        |WHEN MATCHED AND u.n >= 20 THEN DELETE
        |WHEN MATCHED AND c.bal_cents > 0 THEN
        |  UPDATE SET bal_cents = c.bal_cents + u.add_cents, seg = 'UPGRADED'
        |WHEN NOT MATCHED AND u.add_cents >= 240000000 THEN
        |  INSERT (c_custkey, bal_cents, seg) VALUES (u.c_custkey, u.add_cents, 'NEW')
        |""".stripMargin)
      .orderBy($"c_custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_merge_sql" -> (qCdcMergeSql _)
  )

  /** Same contract as the builder key ⇒ same oracle statement (the
    * two Spark paths must agree with DuckDB AND therefore with each
    * other — the spec asserts the pairwise equality directly too). */
  val oracle: Map[String, String] = Map(
    "q_cdc_merge_sql" -> MergeInto.oracle("q_cdc_merge_into")
  )
}
