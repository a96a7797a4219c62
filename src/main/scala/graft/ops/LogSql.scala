package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** SQL surface for the lakehouse tier (reference lifecycle §3.1 is
  * SQL-first: DDL/DML statements drive the table log, not a
  * programmatic API). Three statement forms route to
  * [[graft.sources.TableLog]]:
  *
  *   CREATE TABLE graft_log('<root>') [STATS (c1, c2)] AS <select>
  *       → TableLog.append of the query result (+ per-file stats)
  *
  *   MERGE INTO graft_log('<root>') AS t
  *   USING (<select>) AS s
  *   ON t.<key> = s.<key>
  *   WHEN MATCHED [AND <cond>] THEN UPDATE SET c = <expr>[, ...]
  *   [WHEN NOT MATCHED THEN INSERT *]
  *   [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE]
  *   [STATS (c1, c2)]
  *       → TableLog.mergeInto — the full Delta-parity three-clause
  *         merge, one atomic commit; without the BY SOURCE clause it
  *         rewrites only the files whose key stats admit a match
  *
  *   UPDATE graft_log('<root>') SET c = <expr>[, ...] WHERE <pred>
  *     [STATS (c1, c2)]
  *       → TableLog.update — rewrites only the files containing
  *         matches, one CAS-revalidated commit
  *
  *   DELETE FROM graft_log('<root>') WHERE <pred>
  *       → TableLog.deleteVector — the deletion-vector form (no data
  *         file rewritten; the scale-friendly default, materialized
  *         by the next OPTIMIZE/compact)
  *
  *   INSERT INTO graft_log('<root>') <select>
  *       → TableLog.append — one commit, schema-gated
  *
  *   ALTER TABLE graft_log('<root>') ADD COLUMN c <type>
  *     | DROP COLUMN c | RENAME COLUMN a TO b
  *     | ADD CONSTRAINT n CHECK (<expr>) | DROP CONSTRAINT n
  *       → the metadata-only evolution verbs
  *
  *   OPTIMIZE graft_log('<root>') [ZORDER BY (c1, c2)] [INTO n FILES]
  *       → compact / Layout.optimizeZorder — a dataChange=false
  *         layout rewrite with fresh per-file stats
  *
  *   CREATE TABLE graft_log('<dst>') SHALLOW CLONE graft_log('<src>')
  *       → TableLog.shallowClone — zero-copy table branch
  *
  *   DESCRIBE HISTORY graft_log('<root>')
  *       → TableLog.history — the commit audit as a DataFrame
  *
  *   RESTORE TABLE graft_log('<root>') TO VERSION AS OF <v>
  *       → TableLog.restore — one commit, undone versions stay
  *         time-travelable
  *
  *   VACUUM graft_log('<root>') RETAIN FROM VERSION <v>
  *       → TableLog.vacuum — reclaims files unreachable from any
  *         retained version; returns the reclaimed count
  *
  *   any SELECT mentioning graft_log('<root>')
  *       → the reference is rewritten to a registered snapshot view,
  *         then planned by Catalyst like any other query
  *
  * Everything else returns None and falls through to `spark.sql` —
  * [[graft.Session.sql]] is the dispatch point (the engine's
  * ExecutionContext.sql analogue, `rust/datafusion/src/execution/
  * context.rs:71`). A ParserInterface injection would need
  * session-build-time `spark.sql.extensions` config; dispatching in
  * the engine's own sql() keeps the statements available on ANY
  * session, including already-built ones.
  *
  * Condition/assignment texts are parsed by Catalyst itself
  * (`functions.expr`) after alias mapping — the dispatcher only
  * recognizes statement STRUCTURE, never expressions.
  */
object LogSql {

  private val LogRef = """(?is)graft_log\s*\(\s*'([^']+)'\s*\)""".r
  private val CreateRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s*(?:STATS\s*\(([^)]*)\)\s*)?AS\s+(.*)$""".r
  private val MergeHead =
    """(?is)^\s*MERGE\s+INTO\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+AS\s+(\w+)\s+USING\s*\(""".r
  private val UpdateHead =
    """(?is)^\s*UPDATE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+SET\s""".r
  private val DeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+WHERE\s+(.*?)\s*$""".r
  private val AlterTypeRe =
    """(?is)^\s*ALTER\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w(), ]+?)\s*$""".r
  private val InsertIntoRe =
    """(?is)^\s*INSERT\s+INTO\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+(.+)$""".r
  private val AddColRe =
    """(?is)^\s*ALTER\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+ADD\s+COLUMN\s+(\w+)\s+([\w(), ]+?)\s*$""".r
  private val DropColRe =
    """(?is)^\s*ALTER\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+DROP\s+COLUMN\s+(\w+)\s*$""".r
  private val RenameColRe =
    """(?is)^\s*ALTER\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$""".r
  private val AddCheckRe =
    """(?is)^\s*ALTER\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.*)\)\s*$""".r
  private val DropCheckRe =
    """(?is)^\s*ALTER\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+DROP\s+CONSTRAINT\s+(\w+)\s*$""".r
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s*(?:ZORDER\s+BY\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*)?(?:INTO\s+(\d+)\s+FILES\s*)?$""".r
  private val CloneRe =
    """(?is)^\s*CREATE\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+SHALLOW\s+CLONE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s*$""".r
  private val HistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+graft_log\s*\(\s*'([^']+)'\s*\)\s*$""".r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+TABLE\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+graft_log\s*\(\s*'([^']+)'\s*\)\s+RETAIN\s+FROM\s+VERSION\s+(\d+)\s*$""".r

  /** Some(result) when `text` is a lakehouse statement, else None. */
  def dispatch(s: SparkSession, text: String): Option[DataFrame] = text match {
    // before CreateRe: a SHALLOW CLONE is also CREATE TABLE-headed
    case CloneRe(dst, src) =>
      Some(versionDf(s, graft.sources.TableLog.shallowClone(s, src, dst)))
    case CreateRe(orReplace, root, stats, query) =>
      val statsCols = Option(stats).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      // ANSI/Delta CREATE semantics: a plain CREATE on an existing
      // table fails loudly (a silently-appending retry would double
      // every row); CREATE OR REPLACE overwrites in one commit
      val exists = graft.sources.TableLog.versions(s, root).nonEmpty
      // the inner query may itself read graft_log tables — same
      // rewrite as the SELECT/WITH path, or `CREATE ... AS SELECT
      // FROM graft_log(...)` fails on the unresolved function
      val q = s.sql(rewriteRefs(s, query))
      val v =
        if (orReplace != null) graft.sources.TableLog.overwrite(
          s, root, q, statsCols, overwriteSchema = true)
        else {
          require(!exists,
            s"CREATE TABLE: a table already exists at $root " +
              "(use CREATE OR REPLACE TABLE to overwrite)")
          graft.sources.TableLog.append(
            s, root, q, statsCols = statsCols)
        }
      Some(versionDf(s, v))
    case t if MergeHead.findFirstIn(t).isDefined => Some(merge(s, t))
    case t if UpdateHead.findFirstIn(t).isDefined =>
      // SET/WHERE boundary via the masked scanner, not a raw regex —
      // a SET expression whose string literal contains " WHERE " must
      // not end the SET list early
      val m = UpdateHead.findFirstMatchIn(t).get
      val root = m.group(1)
      val tail = t.substring(m.end)
      val (ws0, we) = SqlSyntax.findTopLevel(tail, "WHERE").getOrElse(
        throw new IllegalArgumentException(
          "UPDATE graft_log requires a WHERE clause"))
      val sets = tail.substring(0, ws0).trim
      val (pred, stats) = splitTrailingStats(tail.substring(we))
      val set = splitTop(sets, ',').map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"malformed SET assignment: $a")
        a.take(i).trim -> expr(a.drop(i + 1))
      }.toMap
      val statsCols = stats.toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      Some(versionDf(s, graft.sources.TableLog.update(
        s, root, expr(pred), set, statsCols)))
    case DeleteRe(root, pred) =>
      Some(versionDf(s, graft.sources.TableLog.deleteVector(
        s, root, expr(pred))))
    case AlterTypeRe(root, column, typeText) =>
      // Delta's `ALTER TABLE t ALTER COLUMN c TYPE <t>` — type text
      // parsed by Catalyst's DDL parser, promotion validated by
      // TableLog.widenColumn (widening-only)
      Some(versionDf(s, graft.sources.TableLog.widenColumn(s, root, column,
        org.apache.spark.sql.types.DataType.fromDDL(typeText))))
    case InsertIntoRe(root, query) =>
      // SQL INSERT — one append commit; the query result's schema is
      // validated by the standard publish gate (narrower-upcast legal,
      // anything else refuses). The source query may read graft_log
      // tables — same rewrite as the SELECT/WITH path.
      Some(versionDf(s,
        graft.sources.TableLog.append(s, root, s.sql(rewriteRefs(s, query)))))
    case AddColRe(root, name, typeText) =>
      Some(versionDf(s, graft.sources.TableLog.addColumn(s, root, name,
        org.apache.spark.sql.types.DataType.fromDDL(typeText))))
    case DropColRe(root, name) =>
      Some(versionDf(s, graft.sources.TableLog.dropColumn(s, root, name)))
    case RenameColRe(root, from, to) =>
      Some(versionDf(s,
        graft.sources.TableLog.renameColumn(s, root, from, to)))
    case AddCheckRe(root, name, check) =>
      Some(versionDf(s,
        graft.sources.TableLog.addConstraint(s, root, name, check)))
    case DropCheckRe(root, name) =>
      Some(versionDf(s,
        graft.sources.TableLog.dropConstraint(s, root, name)))
    case OptimizeRe(root, z1, z2, nFiles) =>
      // Delta's OPTIMIZE [ZORDER BY]: a dataChange=false layout
      // rewrite — plain form compacts, ZORDER interleaves the two
      // named columns' bit representations for multi-column skipping
      // defaults: plain compaction folds to ONE file; a ZORDER
      // rewrite defaults to 8 (clustering into a single file would
      // leave nothing for file skipping to skip). Compaction keeps the
      // key stats the live files carry, so pruning survives it.
      val v =
        if (z1 != null) graft.ops.Layout.optimizeZorder(s, root, z1, z2,
          Option(nFiles).map(_.toInt).getOrElse(8))
        else graft.sources.TableLog.compact(s, root,
          Option(nFiles).map(_.toInt).getOrElse(1))
      Some(versionDf(s, v))
    case HistoryRe(root) =>
      // Delta's `DESCRIBE HISTORY t` — the commit audit, surfaced
      // relationally so it composes with the query engine
      Some(graft.sources.TableLog.history(s, root))
    case RestoreRe(root, version) =>
      // Delta's `RESTORE TABLE t TO VERSION AS OF v` — one commit,
      // history preserved (the undone versions stay time-travelable)
      Some(versionDf(s,
        graft.sources.TableLog.restore(s, root, version.toInt)))
    case VacuumRe(root, retainFrom) =>
      // version-based retention, stated as such (Delta's VACUUM is
      // hours-based; the log here is versioned, so the honest SQL
      // form names the earliest version kept time-travelable)
      val n = graft.sources.TableLog.vacuum(s, root, retainFrom.toInt)
      import s.implicits._
      Some(Seq(n).toDF("reclaimed_files"))
    // query-shaped statements: SELECT and WITH (a CTE over
    // graft_log refs is as legitimate a read as a bare SELECT)
    case t if {
        val head = t.trim.toUpperCase
        (head.startsWith("SELECT") || head.startsWith("WITH")) &&
          LogRef.findFirstIn(t).isDefined
      } =>
      Some(s.sql(rewriteRefs(s, t)))
    case _ => None
  }

  /** Register each graft_log('<root>') reference as a snapshot view
    * and substitute the view name — the query then plans natively. */
  private def rewriteRefs(s: SparkSession, text: String): String = {
    // the regex must run on the RAW text (the root itself sits inside
    // a quoted literal, which the mask blanks), but a match STARTING
    // inside a literal or comment is quoted text, not a reference —
    // gate on the mask at the match start and leave those verbatim
    val code = codeMask(text)
    LogRef.replaceAllIn(text, m => {
      if (!code(m.start))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        val root = m.group(1)
        // md5 of the root, not hashCode: two distinct roots in one
        // query (or session) must never alias to the same view — a
        // 32-bit hashCode collision would silently read the wrong table
        val view = "graft_log_" + java.security.MessageDigest
          .getInstance("MD5").digest(root.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        graft.sources.TableLog.snapshot(s, root).createOrReplaceTempView(view)
        view
      }
    })
  }

  /** Split a trailing `STATS (c1, c2)` suffix off a clause: the LAST
    * top-level STATS whose parenthesized list closes the statement.
    * Masked scan — a literal containing "STATS (" never splits. An
    * actual function call named stats( ) at the very end of the
    * statement remains ambiguous with the clause (same honest scope
    * as the regex form this replaced). */
  private def splitTrailingStats(t: String): (String, Option[String]) = {
    var found: Option[(String, String)] = None
    SqlSyntax.findAllTopLevel(t, "STATS").foreach { case (abs, e0) =>
      var open = e0
      while (open < t.length && Character.isWhitespace(t.charAt(open)))
        open += 1
      if (open < t.length && t.charAt(open) == '(') {
        val close = matchParen(t, open)
        if (t.substring(close + 1).trim.isEmpty)
          found = Some((t.substring(0, abs).trim,
            t.substring(open + 1, close)))
      }
    }
    found match {
      case Some((body, stats)) => (body, Some(stats))
      case None => (t.trim, None)
    }
  }

  /** All top-level occurrences of `kw` in `t` (start indices). */
  private def allTopLevel(t: String, kw: String): Seq[Int] =
    SqlSyntax.findAllTopLevel(t, kw).map(_._1)

  private def merge(s: SparkSession, text: String): DataFrame = {
    val m = MergeHead.findFirstMatchIn(text).get
    val root = m.group(1)
    val tgtAlias = m.group(2)
    // USING (<select>): paren-matched scan — the source query itself
    // contains parens (CASE, functions), a regex cannot bound it
    val open = m.end - 1
    val close = matchParen(text, open)
    val sourceQuery = text.substring(open + 1, close)
    // tail boundaries via the masked scanner: the first top-level
    // WHEN ends the ON condition (ON is a bare key equality — WHEN
    // cannot legally appear inside it), trailing STATS split last —
    // raw-regex splitting broke on literals containing " WHEN "
    val afterUsing = text.substring(close + 1)
    val AsOn = """(?is)^\s*AS\s+(\w+)\s+ON\s""".r
    val am = AsOn.findFirstMatchIn(afterUsing).getOrElse(
      throw new IllegalArgumentException(
        s"malformed MERGE tail: $afterUsing"))
    val srcAlias = am.group(1)
    val rest = afterUsing.substring(am.end - 1)
    val firstWhen = SqlSyntax.findTopLevel(rest, "WHEN").getOrElse(
      throw new IllegalArgumentException(
        "MERGE needs at least one WHEN clause"))._1
    val onText = rest.substring(0, firstWhen).trim
    val (clausesText, stats) = splitTrailingStats(rest.substring(firstWhen))

    // ON t.<k> = s.<k> — equality on one shared key column
    val OnRe = """(?is)^\s*(\w+)\s*\.\s*(\w+)\s*=\s*(\w+)\s*\.\s*(\w+)\s*$""".r
    val keyCol = onText match {
      case OnRe(a1, c1, a2, c2) if c1.equalsIgnoreCase(c2) &&
          Set(a1.toLowerCase, a2.toLowerCase) ==
            Set(tgtAlias.toLowerCase, srcAlias.toLowerCase) => c1
      case _ => throw new IllegalArgumentException(
        s"MERGE ON must be $tgtAlias.<key> = $srcAlias.<key>: $onText")
    }

    // alias mapping to mergeInto's joined-frame names: source columns
    // are src_-prefixed, target columns are bare. Applied only on
    // CODE segments of the mask — 'signed by s. smith' in a literal,
    // an `s.`-lookalike in a comment, and a backticked identifier all
    // reach Catalyst verbatim, never as src_-rewritten text.
    def mapSeg(seg: String): String = seg
      .replaceAll(s"(?i)\\b$srcAlias\\s*\\.\\s*", "src_")
      .replaceAll(s"(?i)\\b$tgtAlias\\s*\\.\\s*", "")
    def mapAliases(e: String): String = {
      val code = codeMask(e)
      val out = new StringBuilder
      var i = 0
      while (i < e.length) {
        val flag = code(i)
        var j = i
        while (j < e.length && code(j) == flag) j += 1
        val seg = e.substring(i, j)
        out ++= (if (flag) mapSeg(seg) else seg)
        i = j
      }
      out.toString
    }

    // clause split at top-level `WHEN MATCHED` / `WHEN NOT MATCHED`
    // heads (masked scan): a literal containing "WHEN " no longer
    // splits a clause, and a parenthesized CASE inside an AND
    // condition sits at paren depth > 0 so its WHEN/THEN are skipped.
    // Honest scope: an UNparenthesized top-level CASE in the AND
    // condition still confuses the THEN locator — parenthesize it
    // (failure is a loud parse error, never silent).
    val clauseStarts = (allTopLevel(clausesText, "WHEN MATCHED") ++
      allTopLevel(clausesText, "WHEN NOT MATCHED")).sorted
    require(clauseStarts.headOption.contains(0),
      s"unsupported MERGE clause head: $clausesText")
    val clauses = clauseStarts.zipAll(clauseStarts.drop(1), 0, clausesText.length)
      .map { case (a, b) => clausesText.substring(a, b).trim }
    val HeadMatched = """(?is)^WHEN\s+MATCHED(?:\s+AND\s+(.*))?$""".r
    val HeadBySource =
      """(?is)^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.*))?$""".r
    val HeadInsert = """(?is)^WHEN\s+NOT\s+MATCHED$""".r
    val UpdateAct = """(?is)^UPDATE\s+SET\s+(.*)$""".r
    val DeleteAct = """(?is)^DELETE$""".r
    val InsertAct = """(?is)^INSERT\s+\*$""".r

    var cond = lit(true)
    var set = Map.empty[String, org.apache.spark.sql.Column]
    var bySource: Option[org.apache.spark.sql.Column] = None
    var insertUnmatched = false
    clauses.foreach { clause =>
      // the FIRST top-level THEN separates head from action (the AND
      // condition may contain THEN only inside parens — see above)
      val (ts, te) = SqlSyntax.findTopLevel(clause, "THEN").getOrElse(
        throw new IllegalArgumentException(
          s"unsupported MERGE clause: $clause"))
      val head = clause.substring(0, ts).trim
      val action = clause.substring(te).trim
      (head, action) match {
        case (HeadMatched(c), UpdateAct(sets)) =>
          cond = Option(c).map(t => expr(mapAliases(t))).getOrElse(lit(true))
          set = splitTop(sets, ',').map { a =>
            val i = a.indexOf('=')
            require(i > 0, s"malformed SET assignment: $a")
            // SET LHS names a TARGET column — strip a target-alias
            // qualifier (Delta's `SET t.price = …` form), refuse a
            // source-alias one (you can't assign into the source);
            // existence is validated downstream by mergeInto
            val lhs = a.take(i).trim.split('.').map(_.trim) match {
              case Array(q, c0) if q.equalsIgnoreCase(tgtAlias) => c0
              case Array(q, _) if q.equalsIgnoreCase(srcAlias) =>
                throw new IllegalArgumentException(
                  s"MERGE SET assigns target columns, not ${a.take(i).trim}")
              case Array(c0) => c0
              case _ => throw new IllegalArgumentException(
                s"malformed SET column: ${a.take(i).trim}")
            }
            lhs -> expr(mapAliases(a.drop(i + 1)))
          }.toMap
        case (HeadBySource(c), DeleteAct()) =>
          bySource =
            Some(Option(c).map(t => expr(mapAliases(t))).getOrElse(lit(true)))
        case (HeadInsert(), InsertAct()) => insertUnmatched = true
        case _ => throw new IllegalArgumentException(
          s"unsupported MERGE clause: $clause")
      }
    }
    require(set.nonEmpty, "MERGE needs a WHEN MATCHED THEN UPDATE clause")

    val statsCols = stats.toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val v = graft.sources.TableLog.mergeInto(s, root, s.sql(sourceQuery),
      keyCol, cond, set, bySource, insertUnmatched, statsCols)
    versionDf(s, v)
  }

  private def versionDf(s: SparkSession, v: Int): DataFrame = {
    val sp = s; import sp.implicits._
    Seq(v).toDF("version")
  }

  /** The shared lexical base of every top-level scanner here and in
    * [[SqlSyntax]]: true at indices that are STRUCTURAL CODE, false
    * inside single-/double-quoted literals and backtick-quoted
    * identifiers (delimiters included) and inside SQL comments
    * (`-- …` to end of line; bracketed comments, nesting per
    * Spark 3+/DuckDB). Scanners read structure — keywords, parens,
    * separators, comparisons — only where the mask is true, so none
    * of those inside a literal, a backticked identifier or a comment
    * can ever desync them. Escapes: backslash and doubled quote
    * inside '…' and "…" (the literal conventions both engines
    * accept), doubled backtick inside `…`. An unterminated literal
    * or comment masks to end-of-text: the eventual parse reports
    * the syntax error — the scanners just must not misread structure
    * past it. */
  private[graft] def codeMask(text: String): Array[Boolean] = lexMask(text)._1

  /** [[codeMask]] plus the exact `(start, end)` span of every COMMENT
    * construct. A contiguous non-code RUN can merge a comment with an
    * abutting literal (`/*h*/'x'`), so any consumer that wants to skip
    * "the comment" must skip exactly these spans — skipping whole
    * non-code runs (or guessing from the run's first character)
    * swallows the literal too. */
  private[graft] def lexMask(text: String): (Array[Boolean], Seq[(Int, Int)]) = {
    val n = text.length
    val code = Array.fill(n)(true)
    val comments = Seq.newBuilder[(Int, Int)]
    var i = 0
    def quoted(q: Char): Unit = { // text(i) is the opening delimiter
      code(i) = false; i += 1
      while (i < n) {
        val c = text.charAt(i)
        code(i) = false
        if (c == '\\' && q != '`' && i + 1 < n) {
          code(i + 1) = false; i += 2 // backslash escape: next is literal
        } else if (c == q) {
          if (i + 1 < n && text.charAt(i + 1) == q) {
            code(i + 1) = false; i += 2 // doubled delimiter: escaped
          } else { i += 1; return }     // closing delimiter
        } else i += 1
      }
    }
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') quoted(c)
      else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
        val s0 = i
        while (i < n && text.charAt(i) != '\n') { code(i) = false; i += 1 }
        comments += ((s0, i))
      } else if (c == '/' && i + 1 < n && text.charAt(i + 1) == '*') {
        val s0 = i
        var depth = 1
        code(i) = false; code(i + 1) = false; i += 2
        while (i < n && depth > 0) {
          if (text.charAt(i) == '/' && i + 1 < n && text.charAt(i + 1) == '*') {
            code(i) = false; code(i + 1) = false; i += 2; depth += 1
          } else if (text.charAt(i) == '*' && i + 1 < n &&
              text.charAt(i + 1) == '/') {
            code(i) = false; code(i + 1) = false; i += 2; depth -= 1
          } else { code(i) = false; i += 1 }
        }
        comments += ((s0, i))
      } else i += 1
    }
    (code, comments.result())
  }

  /** `text` with every non-code character (per [[codeMask]]) replaced
    * by U+0001 — same length, so regex matches against the masked
    * form index straight into the original. For regex-shaped probes
    * (alias references, anchored clause heads) that must not match
    * inside literals/comments/backticks: the filler is neither a word
    * character nor whitespace, so `\b`-anchored and `\s`-bridged
    * patterns can never span into a masked region. */
  private[graft] def maskNonCode(text: String): String = {
    val code = codeMask(text)
    val m = text.toCharArray
    var i = 0
    while (i < m.length) { if (!code(i)) m(i) = '\u0001'; i += 1 }
    new String(m)
  }

  /** `text` with leading and trailing comments (and the whitespace
    * around them) removed — comments at statement BOUNDARIES carry no
    * semantics, but the lakehouse statement heads and the
    * clause-extension anchors are matched by anchored regexes that a
    * `-- provenance` header or a trailing comment would defeat.
    * Interior comments are untouched (the scanners handle them via
    * [[codeMask]]); literals and backticked identifiers are never
    * stripped — the passes advance over the EXACT comment spans
    * [[lexMask]] recorded, so a comment abutting a quoted literal on
    * either boundary strips only the comment. */
  private[graft] def stripBoundaryComments(text: String): String = {
    val (code, spans) = lexMask(text)
    val startsAt = spans.map(sp => sp._1 -> sp._2).toMap
    val endsAt = spans.map(sp => sp._2 -> sp._1).toMap
    def isWs(i: Int) = code(i) && Character.isWhitespace(text.charAt(i))
    // leading: consume whitespace and EXACT comment spans only — a
    // block comment abutting a literal (`/*h*/'x'`) advances to the
    // comment's own end, never across the literal in the same run
    var start = 0
    var moved = true
    while (moved) {
      moved = false
      while (start < text.length && isWs(start)) { start += 1; moved = true }
      startsAt.get(start).foreach { e => start = e; moved = true }
    }
    // trailing: same, walking comment spans back from the end
    var end = text.length
    moved = true
    while (moved && end > start) {
      moved = false
      while (end > start && isWs(end - 1)) { end -= 1; moved = true }
      endsAt.get(end).foreach { s0 => end = math.max(s0, start); moved = true }
    }
    text.substring(start, end)
  }

  /** Index of the ')' matching the '(' at `open`; literal-, backtick-
    * and comment-aware via [[codeMask]].
    * `private[ops]`: [[SqlSyntax]] reuses it for DISTINCT ON keys. */
  private[ops] def matchParen(text: String, open: Int): Int = {
    val code = codeMask(text)
    var depth = 0; var i = open
    while (i < text.length) {
      if (code(i)) text.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parens in statement")
  }

  /** Split on `sep` at paren depth 0; literal-, backtick- and
    * comment-aware via [[codeMask]].
    * `private[ops]`: [[SqlSyntax]] reuses it for select-list arity. */
  private[ops] def splitTop(text: String, sep: Char): Seq[String] = {
    val code = codeMask(text)
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    var i = 0
    while (i < text.length) {
      if (code(i)) text.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case `sep` if depth == 0 =>
          out += text.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += text.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
