package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** SQL DML FOR THE LAKE — `DELETE FROM` / `UPDATE` / `MERGE INTO`
  * parsed by a session parser extension and routed to the
  * merge-on-read write machinery
  * ([[graft.sources.LakeSink.softDeleteUpsertDir]] /
  * [[graft.sources.LakeSink.softUpsertDir]] / the delete-snapshot
  * [[graft.sources.LakeSink.softDelete]]). The reference's write
  * surface IS SQL DML (lambda_fns/order.js:596-709 issues literal
  * UPDATE/DELETE statements); with the read side already plain-SQL
  * end to end (the prune/fold rules a24-a32, a36), this closes the
  * loop: a reference user speaks SQL for every read AND every write.
  *
  * Grammar (case-insensitive; everything else delegates to Spark's
  * own parser untouched):
  *
  *  - `DELETE FROM <target> [WHERE <pred>]` — rows matching the
  *    predicate resolve to their KEYS (one filtered scan of the MOR
  *    view), which land as an O(|keys|) tombstone batch: data files
  *    are never rewritten. On a catalog table with no pending update
  *    log this publishes a delete SNAPSHOT generation (time-travel
  *    visible, the a22/a27 contract); otherwise the batch lands in
  *    the directory's `_deletes/` log.
  *  - `UPDATE <target> SET c = e [, ...] [WHERE <pred>]` — every RHS
  *    evaluates against the OLD row (standard SQL UPDATE semantics:
  *    assignments never see each other), the updated full rows land
  *    as ONE upsert-log batch. Assigning the table's KEY refuses by
  *    name (a key change is a delete + an insert — two intents, two
  *    statements).
  *  - `MERGE INTO <target> [AS a] USING <source> [AS b] ON <a>.k = <b>.k
  *    [WHEN MATCHED AND <cond> THEN DELETE]
  *    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  *    — the canonical upsert, plus the CDC-apply clause: matched
  *    source rows satisfying the DELETE condition tombstone, the
  *    remaining matched keys update, unmatched keys insert — the
  *    exact statement a Debezium-style change stream replays into a
  *    lake (op = 'D' rows delete, the rest upsert). The ON condition
  *    must be an equi-join on the table's registered key; any other
  *    merge shape refuses by name pointing at
  *    [[graft.sources.LakeSink.mergeKeyed]] (the copy-on-write API
  *    that can express arbitrary merges).
  *  - `INSERT INTO <target> [(cols)] VALUES …|SELECT …` — on a KEYED
  *    lake target the rows land as ONE upsert-log batch with
  *    PRIMARY-KEY semantics (a key already live refuses by name —
  *    the reference's RDBMS raises duplicate-key for its hottest
  *    statement, order_rdbms_blob.js:574); a column list maps by
  *    position and omitted columns NULL-fill (the key may not be
  *    omitted). The landed batch gets a shared-counter seq and
  *    `_feed` rows like every log write — the change feed replays
  *    it. UNKEYED targets (and INSERT OVERWRITE / partition specs)
  *    delegate to Spark untouched: the routing probe is one
  *    metadata-only key lookup.
  *
  * `<target>` is a catalog table name, or a path-addressed lake dir
  * as `` parquet.`/path` `` (Delta's ``delta.`path` `` convention).
  * THE KEY is resolved, in order, from: the directory's committed
  * `_updates/_key` marker (one key governs one log), the catalog
  * table's `graft.key` property ([[graft.sources.LakeSink
  * .registerExternal]]'s keyed overload writes it), or the session
  * conf `spark.graft.dml.key.<table>`; with none present the
  * statement REFUSES BY NAME — guessing a key would make "latest
  * wins" meaningless.
  *
  * Scale shape: each statement costs one filtered scan of the MOR
  * view (predicate and column pruning push into it like any read)
  * plus a churn-sized log landing — the 100 TB table is never
  * rewritten; the landing serializes under the directory's log claim
  * like every other log write. Each statement returns its effect row
  * (`op, n_updated, n_inserted, n_deleted`) — the reference's lambda
  * returns affectedRows the same way. */
object GraftDml {

  // ---- statement heads (anchored, case-insensitive, dot-all); the
  // statement BODY is then split by the QUOTE-AWARE top-level keyword
  // scanner below, never by regex — `SET c = 'x WHERE y'` must not
  // split on the literal's WHERE (the regex grammar did) ----
  private val DeleteHead =
    """(?is)^\s*DELETE\s+FROM\s+(.+?)\s*;?\s*$""".r
  private val UpdateHead =
    """(?is)^\s*UPDATE\s+(.+?)\s*;?\s*$""".r
  private val MergeHead =
    """(?is)^\s*MERGE\s+INTO\s+(.+?)\s*;?\s*$""".r
  private val InsertHead =
    """(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?(.+?)\s*;?\s*$""".r
  private val OptimizeHead =
    """(?is)^\s*OPTIMIZE\s+(.+?)\s*;?\s*$""".r
  private val VacuumHead =
    """(?is)^\s*VACUUM\s+(.+?)\s*;?\s*$""".r

  /** every TOP-LEVEL occurrence of word `kw` in `s` — outside
    * single/double/backtick quotes and outside parens/brackets,
    * case-insensitive, word-bounded. One forward scan; quote state is
    * tracked from the string start so a keyword inside a literal can
    * never act as a clause boundary. Inside single/double quotes a
    * backslash escapes the next character (Spark's default
    * `escapedStringLiterals=false` semantics — `'don\'t'` stays one
    * literal); backticks have no escape, only doubling. */
  private[graft] def topLevelKeywordAll(s: String, kw: String): Seq[Int] = {
    val hits = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0; var quote: Char = 0; var i = 0
    val n = s.length; val k = kw.length
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val ch = s.charAt(i)
      if (quote != 0) {
        if (ch == '\\' && quote != '`') i += 1 // skip the escaped char
        else if (ch == quote) quote = 0
      }
      else ch match {
        case '\'' | '"' | '`' => quote = ch
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, k) &&
              (i == 0 || !isWord(s.charAt(i - 1))) &&
              (i + k >= n || !isWord(s.charAt(i + k))))
            hits += i
      }
      i += 1
    }
    hits.toSeq
  }

  private[graft] def topLevelKeyword(s: String, kw: String): Int =
    topLevelKeywordAll(s, kw).headOption.getOrElse(-1)

  /** split at the first top-level `kw`: (before, after) trimmed */
  private def splitAtKeyword(s: String, kw: String): Option[(String, String)] = {
    val i = topLevelKeyword(s, kw)
    if (i < 0) None
    else Some((s.substring(0, i).trim, s.substring(i + kw.length).trim))
  }

  /** parse `sqlText` as a graft DML statement, or None to delegate.
    * A statement that carries a DML head but does not fit the
    * supported shape still delegates (except MERGE, which refuses by
    * name — Spark's v1 error names no alternative) — a parse-time
    * hijack of a shape we cannot route would hide the honest error. */
  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case DeleteHead(rest) =>
      val (target, pred) = splitAtKeyword(rest, "WHERE")
        .map { case (t, p) => (t, Some(p)) }.getOrElse((rest.trim, None))
      Some(GraftDmlCommand("delete", target, pred, Nil, None, None))
    case UpdateHead(rest) =>
      // no top-level SET, or not an assignment list → delegate
      splitAtKeyword(rest, "SET").flatMap { case (target, tail) =>
        val (setList, pred) = splitAtKeyword(tail, "WHERE")
          .map { case (sl, p) => (sl, Some(p)) }.getOrElse((tail, None))
        splitAssignments(setList).map(assigns =>
          GraftDmlCommand("update", target, pred, assigns, None, None))
      }
    case MergeHead(rest) => Some(parseMerge(rest))
    case InsertHead(rest) => parseInsert(rest)
    case OptimizeHead(rest) =>
      // stock Spark has no OPTIMIZE statement (a parse error today),
      // so routing it loses nothing and gains the one maintenance
      // verb every lakehouse exposes (Delta's OPTIMIZE)
      Some(parseOptimize(rest))
    case VacuumHead(rest) => Some(parseVacuum(rest))
    case _ => None
  }

  // ---- maintenance statements ------------------------------------
  // a maintenance TARGET is a table name (plain, db-qualified, or
  // backtick-quoted) or a parquet.`path` — validated HERE so extended
  // syntax refuses at parse level naming the supported shapes,
  // instead of failing deep inside target resolution with a
  // misleading unknown-table error on e.g. `t ZORDER BY c` as a name
  private val MaintTargetName =
    """(?is)^((?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)(?:\s*\.\s*(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`))*)$""".r

  private def validMaintTarget(t: String): Boolean = t match {
    case PathTarget(_) => true
    case MaintTargetName(_) => true
    case _ => false
  }

  private val ZOrderBy =
    """(?is)^BY\s*\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)\s*$""".r

  /** `OPTIMIZE <target> [ZORDER BY (c1[, c2…])]` — anything else
    * refuses at parse level naming the supported shapes. */
  private def parseOptimize(rest: String): LogicalPlan = {
    def refuse(): Nothing = throw new UnsupportedOperationException(
      "OPTIMIZE REFUSED: supported shapes are `OPTIMIZE <table|" +
        "parquet.`/dir`>` (compaction) and `OPTIMIZE <target> ZORDER " +
        s"BY (c1[, c2…])` (clustered rewrite + stats) — got: " +
        s"OPTIMIZE ${rest.trim}")
    val (target, cols) = splitAtKeyword(rest, "ZORDER") match {
      case None => (rest.trim, Seq.empty[String])
      case Some((t, tail)) => tail match {
        case ZOrderBy(cl) => (t.trim, cl.split(",").map(_.trim).toSeq)
        case _ => refuse()
      }
    }
    if (!validMaintTarget(target)) refuse()
    GraftMaintenanceCommand("optimize", target, cols)
  }

  private val RetainRe =
    """(?is)^(.*?)\s+RETAIN\s+(\d+)\s+(HOURS?|MINUTES?)\s*$""".r
  private val DryRunRe = """(?is)^(.*?)\s+DRY\s+RUN\s*$""".r

  /** `VACUUM <target> [RETAIN <n> HOURS|MINUTES] [DRY RUN]` — default
    * 168 hours (Delta's shapes, DRY RUN included: count what WOULD
    * reclaim, delete nothing); the retention floor refuses inside
    * [[graft.sources.LakeSink.vacuumTable]]/[[graft.sources.LakeSink
    * .vacuumDir]]. */
  private def parseVacuum(rest: String): LogicalPlan = {
    def refuse(): Nothing = throw new UnsupportedOperationException(
      "VACUUM REFUSED: the supported shape is `VACUUM <table|" +
        "parquet.`/dir`> [RETAIN <n> HOURS|MINUTES] [DRY RUN]` — got: " +
        s"VACUUM ${rest.trim}")
    val (afterDry, dryRun) = rest.trim match {
      case DryRunRe(t) => (t.trim, true)
      case t => (t, false)
    }
    val (target, retainMs) = afterDry match {
      case RetainRe(t, n, unit) =>
        val ms = n.toLong *
          (if (unit.toUpperCase(java.util.Locale.ROOT).startsWith("HOUR"))
            3600000L else 60000L)
        (t.trim, ms)
      case t => (t, 604800000L)
    }
    if (!validMaintTarget(target)) refuse()
    GraftMaintenanceCommand("vacuum", target, Nil, Some(retainMs), dryRun)
  }

  private def refuseMerge(): Nothing =
    throw new UnsupportedOperationException(
      "MERGE REFUSED: only `MERGE INTO t USING s ON t.k = s.k " +
        "[WHEN MATCHED AND <cond> THEN DELETE] WHEN MATCHED THEN " +
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *` routes " +
        "through the upsert log; other shapes go through " +
        "LakeSink.mergeKeyed (copy-on-write) or " +
        "LakeSink.softPatchDir (column-subset patches). An unparenthesized " +
        "CASE expression in a merge condition also lands here — " +
        "parenthesize it: its WHEN/THEN would be ambiguous with the " +
        "clause keywords.")

  /** the WHEN-clause chain, split at top-level WHENs and each clause
    * at its top-level THEN — so a condition literal containing
    * 'WHEN'/'THEN'/'DELETE' parses; only the canonical clause sequence
    * (optional delete-apply, update-all, insert-all) routes. */
  private def parseMerge(rest: String): GraftDmlCommand = {
    val (target, afterUsing) =
      splitAtKeyword(rest, "USING").getOrElse(refuseMerge())
    val (source, afterOn) =
      splitAtKeyword(afterUsing, "ON").getOrElse(refuseMerge())
    val whens = topLevelKeywordAll(afterOn, "WHEN")
    if (whens.isEmpty) refuseMerge()
    val onCond = afterOn.substring(0, whens.head).trim
    val clauses = whens.zipAll(whens.drop(1).map(Some(_)), -1, None)
      .map { case (start, end) =>
        val c = afterOn.substring(start + "WHEN".length,
          end.getOrElse(afterOn.length))
        splitAtKeyword(c, "THEN").getOrElse(refuseMerge())
      }
    def norm(s: String) =
      s.trim.replaceAll("\\s+", " ").toUpperCase(java.util.Locale.ROOT)
    clauses match {
      case Seq((m, u), (nm, ins))
          if norm(m) == "MATCHED" && norm(u) == "UPDATE SET *" &&
            norm(nm) == "NOT MATCHED" && norm(ins) == "INSERT *" =>
        GraftDmlCommand("merge", target, None, Nil,
          Some(source), Some(onCond))
      case Seq((mad, del), (m, u), (nm, ins))
          if norm(del) == "DELETE" && norm(m) == "MATCHED" &&
            norm(u) == "UPDATE SET *" && norm(nm) == "NOT MATCHED" &&
            norm(ins) == "INSERT *" =>
        // re-split the raw clause so the condition keeps its own text
        val delCond = splitAtKeyword(mad, "AND") match {
          case Some((matched, cond)) if norm(matched) == "MATCHED" => cond
          case _ => refuseMerge()
        }
        GraftDmlCommand("merge", target, Some(delCond), Nil,
          Some(source), Some(onCond))
      case _ => refuseMerge()
    }
  }

  // ---- INSERT INTO routing --------------------------------------
  private val InsPathTarget =
    """(?is)^(parquet\s*\.\s*`[^`]+`)\s*(.*)$""".r
  private val InsNameTarget =
    """(?is)^((?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)(?:\s*\.\s*(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`))*)\s*(.*)$""".r
  private val InsColList =
    """(?s)^\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)\s*(.*)$""".r
  private val InsBodyHeads = Set("VALUES", "SELECT", "WITH", "TABLE", "FROM")

  /** route `INSERT INTO <keyed lake target> [(cols)] <query|VALUES>`
    * through the upsert log; targets that are DEFINITIVELY not keyed
    * lake tables — unkeyed targets, INSERT OVERWRITE, partition
    * specs, unknown/temp-view tables — delegate to Spark
    * byte-for-byte (a delegated insert against an unkeyed parquet dir
    * is today's plain file append). The routing probe is
    * metadata-only: one key lookup (`_updates/_key` marker / `graft
    * .key` property / session conf), the same resolution order as
    * every DML statement. The probe delegates ONLY on the definitive
    * negative (no such table, no registered key); an unexpected
    * exception from the metadata probe (transient FS error, hadoop
    * misconfig) PROPAGATES — silently delegating a keyed insert to
    * Spark's bare file append would bypass seq/claim/feed/PK
    * semantics, rows invisible to the change feed forever. Backtick-
    * quoted targets and parenthesized query bodies route like their
    * unquoted/unparenthesized twins (same logical insert, same
    * durability). */
  private def parseInsert(rest: String): Option[LogicalPlan] = {
    val (target, tail) = rest match {
      case InsPathTarget(t, tl) => (t, tl)
      case InsNameTarget(t, tl) => (t, tl)
      case _ => return None
    }
    val (cols, body) = tail.trim match {
      case InsColList(cl, b) => (cl.split(",").map(_.trim).toSeq, b.trim)
      case b => (Seq.empty[String], b.trim)
    }
    if (body.isEmpty) return None
    // a body opening with '(' is a parenthesized query —
    // `INSERT INTO t (SELECT …)` (Spark parses a parenthesized
    // top-level query); otherwise the first word must be a query head
    val head = body.split("""[\s(]+""")(0).toUpperCase(java.util.Locale.ROOT)
    if (!body.startsWith("(") && !InsBodyHeads.contains(head)) return None
    val routable = SparkSession.getActiveSession.exists { s =>
      resolveTargetOpt(s, target) match {
        case None => false // not a lake path nor a known catalog table
        case Some((loc, table)) => lookupKey(s, loc, table).isDefined
      }
    }
    if (!routable) None
    else Some(GraftDmlCommand("insert", target, None, Nil,
      Some(body), None, cols))
  }

  /** split `a = e1, b = e2` on TOP-LEVEL commas (parens/brackets and
    * string literals tracked — `greatest(a, b)` must not split), then
    * each assignment on its first top-level `=`. None = not an
    * assignment list (delegate). */
  private[graft] def splitAssignments(s: String): Option[Seq[(String, String)]] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var quote: Char = 0; var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (quote != 0) {
        cur += ch
        if (ch == '\\' && quote != '`' && i + 1 < s.length) {
          cur += s.charAt(i + 1); i += 1 // escaped char stays in-literal
        } else if (ch == quote) quote = 0
      }
      else ch match {
        case '\'' | '"' | '`' => quote = ch; cur += ch
        case '(' | '[' => depth += 1; cur += ch
        case ')' | ']' => depth -= 1; cur += ch
        case ',' if depth == 0 => parts += cur.result(); cur.clear()
        case _ => cur += ch
      }
      i += 1
    }
    parts += cur.result()
    val AssignRe = """(?s)^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$""".r
    val assigns = parts.toSeq.map {
      case AssignRe(c, e) => Some(c -> e.trim)
      case _ => None
    }
    if (assigns.forall(_.isDefined)) Some(assigns.flatten) else None
  }

  /** `parquet.`/path`` (optional alias) → path; anything else → table */
  private val PathTarget =
    """(?is)^parquet\s*\.\s*`([^`]+)`(?:\s+(?:AS\s+)?[A-Za-z_][A-Za-z0-9_]*)?$""".r

  /** the target name with an optional trailing alias (`orders o` /
    * `orders AS o`) stripped — the split is BACKTICK-AWARE so a
    * quoted identifier containing whitespace survives. */
  private def stripAlias(t: String): String = {
    var inBt = false; var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '`') inBt = !inBt
      else if (c.isWhitespace && !inBt) return t.substring(0, i)
      i += 1
    }
    t
  }

  /** resolve a DML target to its data location: a lake path, or a
    * catalog table — plain, `db.t`-qualified, or backtick-quoted
    * (resolved through the session catalog's current-database rules).
    * None = DEFINITIVELY not addressable (no such catalog table) —
    * the delegation-worthy negative; unexpected exceptions propagate. */
  private[plans] def resolveTargetOpt(spark: SparkSession,
      target: String): Option[(String, Option[String])] = target match {
    case PathTarget(p) => Some((p, None))
    case t =>
      val name = stripAlias(t.trim)
      if (graft.sources.LakeSink.catalogTableExists(spark, name))
        Some((graft.sources.LakeSink.tableLocation(spark, name), Some(name)))
      else None
  }

  private[plans] def resolveTarget(spark: SparkSession,
      target: String): (String, Option[String]) =
    resolveTargetOpt(spark, target).getOrElse(
      throw new IllegalArgumentException(s"unknown table $target"))

  /** key resolution: log marker > catalog property > session conf */
  private[plans] def lookupKey(spark: SparkSession, loc: String,
      table: Option[String]): Option[String] = {
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.LakeSink.updateLogKey(fs, loc)
      .orElse(table.flatMap { t =>
        val ident = graft.sources.LakeSink.tableIdent(t)
        spark.sessionState.catalog.getTableMetadata(ident)
          .properties.get("graft.key")
      })
      .orElse(table.flatMap { t =>
        val ident = graft.sources.LakeSink.tableIdent(t)
        spark.conf.getOption(
          s"spark.graft.dml.key.${ident.unquotedString}")
      })
  }

  private[plans] def resolveKey(spark: SparkSession, loc: String,
      table: Option[String]): String = {
    lookupKey(spark, loc, table)
      .getOrElse(throw new IllegalStateException(
        s"DML REFUSED: no key registered for $loc — DML folds through " +
          "the keyed merge-on-read log, and guessing a key would make " +
          "\"latest wins\" meaningless. Register one: registerExternal(" +
          "..., key = ...), TBLPROPERTIES('graft.key'='<col>'), or the " +
          s"session conf spark.graft.dml.key.<table>."))
  }

  private def hasUpdates(spark: SparkSession, loc: String): Boolean =
    graft.sources.LakeSink.updateBatches(new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), loc).nonEmpty

  /** the table view a DML predicate scans: a SINGLE-ROOT read — the
    * planner folds the log ([[TombstoneApplyRule]], value-identical
    * to the explicit API, a36's hash-proved contract) AND the
    * manifest prune rules can fire on it, so `DELETE … WHERE k = 42`
    * over a blooms-carrying table reads ~the owning files instead of
    * the table (Delta's DELETE does its file skipping exactly here).
    * An EVOLVED table uses the explicit fold: a single-root read's
    * footer-inferred schema cannot carry the widened columns (the
    * planner fold refuses it by name). The landing kernels re-verify
    * liveness under the log claim either way, so the choice affects
    * READ cost only. */
  private def dmlView(spark: SparkSession, loc: String,
      key: String): org.apache.spark.sql.DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.sources.LakeSink.persistedSchema(fs, loc).isEmpty)
      spark.read.parquet(loc)
    else graft.sources.LakeSink.morReadUpsertDir(spark, loc, key)
  }

  /** Every runner below holds the TARGET DIRECTORY'S LOG CLAIM across
    * its whole read-compute-land ([[graft.sources.LakeSink
    * .withDirLogClaim]], reentrant through the landing kernels —
    * softPatchDir's own discipline): the view read, the new-row
    * computation, and the landing(s) commit as ONE critical section.
    * Without it, a concurrent landing between the view read and the
    * landing's own claim acquisition is silently folded over (lost
    * update) — the exact race class the log claim exists to close;
    * and a MERGE's upsert + tombstone halves land under one claim, so
    * no writer interleaves between them. */
  private[plans] def runDelete(spark: SparkSession, target: String,
      pred: Option[String]): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val (loc, table) = resolveTarget(spark, target)
    val key = resolveKey(spark, loc, table)
    graft.sources.LakeSink.withDirLogClaim(spark, loc) {
      val view = dmlView(spark, loc, key)
      val keys = view.filter(pred.map(expr).getOrElse(lit(true)))
        .select(col(key)).distinct().localCheckpoint(true)
      if (keys.isEmpty) 0L
      else if (hasUpdates(spark, loc) || table.isEmpty)
        graft.sources.LakeSink.softDeleteUpsertDir(spark, loc, keys, key)
      else
        // log-free catalog table: the richer route — the delete also
        // publishes a time-travel-visible snapshot generation
        graft.sources.LakeSink.softDelete(spark, table.get, keys, key)
    }
  }

  private[plans] def runUpdate(spark: SparkSession, target: String,
      assigns: Seq[(String, String)], pred: Option[String]): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val (loc, table) = resolveTarget(spark, target)
    val key = resolveKey(spark, loc, table)
    require(!assigns.exists(_._1.equalsIgnoreCase(key)),
      s"UPDATE REFUSED: SET targets the key column '$key' — a key " +
        "change is a DELETE plus an INSERT (two intents, two " +
        "statements); an updated key would orphan the old version")
    graft.sources.LakeSink.withDirLogClaim(spark, loc) {
      val view = dmlView(spark, loc, key)
      val unknown = assigns.map(_._1)
        .filterNot(c => view.columns.exists(_.equalsIgnoreCase(c)))
      require(unknown.isEmpty,
        s"UPDATE REFUSED: unknown columns ${unknown.mkString(", ")} — " +
          s"the table carries [${view.columns.mkString(", ")}]")
      val byName = assigns.map { case (c, e) => c.toLowerCase -> e }.toMap
      // ALL right-hand sides evaluate against the OLD row: one select
      // applies every assignment simultaneously (SQL UPDATE semantics —
      // `SET a = b, b = a` swaps)
      val batch = view.filter(pred.map(expr).getOrElse(lit(true)))
        .select(view.columns.toIndexedSeq.map(c =>
          byName.get(c.toLowerCase)
            .map(e => expr(e).cast(view.schema(c).dataType).as(c))
            .getOrElse(col(c))): _*)
        .localCheckpoint(true)
      if (batch.isEmpty) (0L, 0L)
      else graft.sources.LakeSink.softUpsertDir(spark, loc, batch, key)
    }
  }

  /** `INSERT INTO` against a KEYED lake target — routed through the
    * log so the one write that used to silently side-step
    * seq/claim/feed/expectations (Spark's delegated insert appends
    * bare files the change feed can never replay; the reference's
    * hottest statement is exactly this INSERT,
    * order_rdbms_blob.js:574) now lands as an ordinary upsert-log
    * batch: seq from the shared counter, `_feed` rows
    * (op = 'insert') in the batch's own atomic rename, pending-
    * tombstone refusal for free. PK SEMANTICS, refused by name: a
    * key already live in the view is a duplicate-key error (the
    * reference's RDBMS raises exactly that; an insert that silently
    * became an update would hide a client bug) — UPDATE or MERGE
    * INTO to change existing rows. A column list maps the source by
    * position; omitted table columns NULL-fill (standard SQL), the
    * key may not be omitted. Returns rows inserted. */
  private[plans] def runInsert(spark: SparkSession, target: String,
      body: String, cols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val (loc, table) = resolveTarget(spark, target)
    val key = resolveKey(spark, loc, table)
    val src = spark.sql(body).localCheckpoint(true)
    graft.sources.LakeSink.withDirLogClaim(spark, loc) {
      val view = dmlView(spark, loc, key)
      val tableCols = view.columns.toIndexedSeq
      val provided = if (cols.nonEmpty) cols else tableCols
      val unknown = provided.filterNot(c =>
        tableCols.exists(_.equalsIgnoreCase(c)))
      require(unknown.isEmpty,
        s"INSERT REFUSED: unknown columns ${unknown.mkString(", ")} — " +
          s"the table carries [${tableCols.mkString(", ")}]")
      require(provided.map(_.toLowerCase).distinct.size == provided.size,
        "INSERT REFUSED: duplicate columns in the column list")
      require(provided.exists(_.equalsIgnoreCase(key)),
        s"INSERT REFUSED: the column list omits the key '$key' — a " +
          "keyed lake row without a key cannot enter the log")
      require(src.columns.length == provided.size,
        s"INSERT REFUSED: ${src.columns.length} source columns for " +
          s"${provided.size} target columns")
      val renamed = src.toDF(provided: _*)
      // positional map to the table layout, NULL-filling omitted
      // columns, each cast to the table's type (VALUES literals
      // default to int/decimal shapes the log would refuse as drift)
      val batch = renamed.select(tableCols.map { c =>
        provided.find(_.equalsIgnoreCase(c)) match {
          case Some(p) => col(p).cast(view.schema(c).dataType).as(c)
          case None => lit(null).cast(view.schema(c).dataType).as(c)
        }
      }: _*).localCheckpoint(true)
      // PK liveness, SCALE-DEFAULT (r17): a compacted keyed table
      // carries `_blooms_<key>` (compactUpsertsDir commits it in the
      // swap), and the probe consults that manifest DIRECTLY —
      // base side reads ~the batch keys' owning files, log and
      // tombstone sides are churn-sized; no opt-in confs (the lake's
      // answer to the RDBMS's B-tree duplicate probe,
      // order_rdbms_blob.js:574). Fallback (no/stale manifest): the
      // view-oriented semi-join — still the orientation the
      // dynFilePrune rule CAN prune when enabled.
      val nLive = graft.sources.LakeSink.liveKeyCount(spark, loc, key,
          batch.select(col(key))).getOrElse {
        view.select(col(key))
          .join(org.apache.spark.sql.functions.broadcast(
            batch.select(col(key))), Seq(key), "left_semi")
          .select(col(key)).distinct().count()
      }
      require(nLive == 0,
        s"INSERT REFUSED: $nLive keys already live in the view — a " +
          "keyed lake INSERT carries primary-key semantics (the " +
          "reference's RDBMS raises duplicate-key here); UPDATE or " +
          "MERGE INTO to change existing rows")
      val (u, i) = graft.sources.LakeSink.softUpsertDir(spark, loc,
        batch, key)
      require(u == 0L, s"internal: PK-checked insert updated $u rows")
      i
    }
  }

  /** `OPTIMIZE <target> [ZORDER BY (cols)]` — the maintenance verb
    * routed to the right compaction for the target's tier (Delta's
    * OPTIMIZE; every tier's own safety contract applies unchanged):
    *  - a KEYED lake dir (`_updates/_key`): [[graft.sources.LakeSink
    *    .compactUpsertsDir]] — the folded view replaces the base
    *    through the checked two-rename swap, logs retiring with it
    *    (hive-partitioned dirs refuse there, naming the partitioned
    *    overload — this statement stays the simple verb); with
    *    ZORDER, [[graft.sources.LakeSink.compactUpsertsDirZOrder]] —
    *    the fold materializes CLUSTERED with the cluster columns'
    *    `_stats` manifest committed in the same swap, so the very
    *    next plain-SQL range query prunes;
    *  - an UNKEYED dir: [[graft.sources.LakeSink.compact]] /
    *    [[graft.sources.LakeSink.compactZOrderDir]] (pending logs
    *    refuse by name there);
    *  - a catalog table: [[graft.sources.LakeSink.compactMor]] when a
    *    key is registered (folds tombstones into a new generation),
    *    [[graft.sources.LakeSink.compactTable]] otherwise; with
    *    ZORDER, [[graft.sources.LakeSink.optimizeZOrderN]] (a21/a28's
    *    machinery — pending tombstones refuse there by name, run
    *    plain OPTIMIZE first).
    * Returns the surviving row count. */
  private[plans] def runOptimize(spark: SparkSession,
      target: String, cols: Seq[String] = Nil): Long = {
    val (loc, table) = resolveTarget(spark, target)
    // tunable like Delta's maxFileSize: at 100 TB the right file size
    // is a cluster decision, not a constant
    val targetRecords = spark.conf
      .get("spark.graft.optimize.targetRecordsPerFile", "1000000").toLong
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pending _updates log routes to the DIRECTORY-tier fold even
    // for a catalog table: it is the one compaction that folds the
    // log, and it preserves the location, so the catalog pointer
    // stays valid (generation publishes refuse pending updates by
    // name — they cannot fold the log and would drop upserts)
    val hasLog = graft.sources.LakeSink.updateLogKey(fs, loc).isDefined
    table match {
      case Some(t) if !hasLog && cols.nonEmpty =>
        graft.sources.LakeSink.optimizeZOrderN(spark, t, cols,
          targetRecords)
      case Some(t) if !hasLog =>
        lookupKey(spark, loc, table) match {
          case Some(k) => graft.sources.LakeSink.compactMor(spark, t, k,
            targetRecords)
          case None => graft.sources.LakeSink.compactTable(spark, t,
            targetRecords)
        }
      case _ =>
        val n = graft.sources.LakeSink.updateLogKey(fs, loc) match {
          case Some(k) if cols.nonEmpty =>
            graft.sources.LakeSink.compactUpsertsDirZOrder(spark, loc,
              k, cols, targetRecords)
          case Some(k) =>
            graft.sources.LakeSink.compactUpsertsDir(spark, loc, k,
              targetRecords)
          case None if cols.nonEmpty =>
            graft.sources.LakeSink.compactZOrderDir(spark, loc, cols,
              targetRecords)
          case None =>
            graft.sources.LakeSink.compact(spark, loc, "parquet",
              targetRecords)
        }
        table.foreach(t => spark.catalog.refreshTable(t))
        n
    }
  }

  /** `VACUUM <target> [RETAIN n …]` — on-demand retention GC: a
    * catalog table reclaims superseded generations
    * ([[graft.sources.LakeSink.vacuumTable]]) AND its live
    * directory's staging/schema leftovers; a path target
    * reclaims the directory tier only. Returns objects reclaimed. */
  private[plans] def runVacuum(spark: SparkSession, target: String,
      retainMs: Long, dryRun: Boolean = false): Long = {
    val (loc, table) = resolveTarget(spark, target)
    val dirN = graft.sources.LakeSink.vacuumDir(spark, loc, retainMs,
      dryRun)
    table.fold(dirN)(t =>
      dirN + graft.sources.LakeSink.vacuumTable(spark, t, retainMs,
        dryRun))
  }

  private val OnCondRe =
    """(?is)^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  /** the canonical upsert, plus the CDC-apply clause: with `delCond`
    * set (`WHEN MATCHED AND <cond> THEN DELETE`), MATCHED source rows
    * satisfying it delete (tombstone batch), the rest of the matched
    * rows update and unmatched rows insert — standard MERGE clause
    * order: the delete clause is tried first per matched pair;
    * unmatched rows always insert (Delta's semantics — a 'D' record
    * for a key never present inserts unless the source pre-filters).
    * The upsert batch lands FIRST, the tombstones second — the two
    * key sets are disjoint (each source key takes exactly one
    * clause), so the pending-tombstone refusal can never fire between
    * them. Returns (updated, inserted, deleted). */
  private[plans] def runMerge(spark: SparkSession, target: String,
      source: String, onCond: String,
      delCond: Option[String]): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{col, expr}
    val (loc, table) = resolveTarget(spark, target)
    val key = resolveKey(spark, loc, table)
    val onKey = onCond match {
      case OnCondRe(_, c1, _, c2) if c1.equalsIgnoreCase(c2) => c1
      case _ => throw new UnsupportedOperationException(
        s"MERGE REFUSED: ON must be an equi-join on the table's key " +
          s"('$key'), got `$onCond` — other merge conditions go " +
          "through LakeSink.mergeKeyed")
    }
    require(onKey.equalsIgnoreCase(key),
      s"MERGE REFUSED: ON joins on '$onKey' but the table's " +
        s"registered key is '$key' — one key governs one log")
    // source: a table name, or a parenthesized subquery, each with an
    // optional alias — kept, so a DELETE condition can qualify source
    // columns (`s.op = 'D'`)
    val SubqueryRe =
      """(?s)^\((.+)\)(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?$""".r
    val (srcRaw, srcAlias) = source.trim match {
      case SubqueryRe(inner, alias) => (spark.sql(inner), Option(alias))
      case t =>
        val parts = t.split("""(?i)\s+(?:AS\s+)?""")
        (spark.table(parts(0)),
          if (parts.length > 1) Some(parts.last) else None)
    }
    val srcDf = srcAlias.foldLeft(srcRaw.localCheckpoint(true))(_.alias(_))
    graft.sources.LakeSink.withDirLogClaim(spark, loc) {
      // SET * / INSERT * map source → target BY NAME: every table
      // column must exist in the source; EXTRA source columns (a CDC
      // op/ts envelope) are simply unused — Delta's semantics
      val view = dmlView(spark, loc, key)
      val missing = view.columns.filterNot(c =>
        srcDf.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"MERGE REFUSED: SET */INSERT * needs every table column in the " +
          s"source; missing ${missing.mkString(", ")}")
      val projected = srcDf.select(view.columns.toIndexedSeq.map(col): _*)
      delCond match {
        case None =>
          val (u, i) = graft.sources.LakeSink.softUpsertDir(spark, loc,
            projected, key)
          (u, i, 0L)
        case Some(cond) =>
          val matchedKeys = view.select(col(key)).distinct()
          val delKeys = srcDf.filter(expr(cond))
            .join(matchedKeys, Seq(key), "left_semi")
            .select(col(key)).localCheckpoint(true)
          val upserts = projected.join(delKeys, Seq(key), "left_anti")
          // both halves commit under the ONE claim this block holds: a
          // crash can still land the upsert alone, but no concurrent
          // writer ever interleaves between the halves, and the held
          // claim is visible to readers of the crash window
          val (u, i) =
            if (upserts.isEmpty) (0L, 0L)
            else graft.sources.LakeSink.softUpsertDir(spark, loc, upserts, key)
          val d =
            if (delKeys.isEmpty) 0L
            else graft.sources.LakeSink.softDeleteUpsertDir(spark, loc,
              delKeys, key)
          (u, i, d)
      }
    }
  }
}

/** the eagerly-executed command [[GraftDml.parse]] produces — one
  * effect row back (`op, n_updated, n_inserted, n_deleted`), the
  * reference's affectedRows contract. */
case class GraftDmlCommand(kind: String, target: String,
    pred: Option[String], assigns: Seq[(String, String)],
    source: Option[String], onCond: Option[String],
    cols: Seq[String] = Nil)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("n_updated", LongType, nullable = false)(),
    AttributeReference("n_inserted", LongType, nullable = false)(),
    AttributeReference("n_deleted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = kind match {
    case "delete" =>
      val n = GraftDml.runDelete(spark, target, pred)
      Seq(Row("delete", 0L, 0L, n))
    case "update" =>
      val (u, i) = GraftDml.runUpdate(spark, target, assigns, pred)
      Seq(Row("update", u, i, 0L))
    case "merge" =>
      val (u, i, d) = GraftDml.runMerge(spark, target, source.get,
        onCond.get, pred)
      Seq(Row("merge", u, i, d))
    case "insert" =>
      val n = GraftDml.runInsert(spark, target, source.get, cols)
      Seq(Row("insert", 0L, n, 0L))
  }
}

/** the maintenance commands (`OPTIMIZE` / `VACUUM`): one effect row
  * (op, n_rows) back — OPTIMIZE's surviving row count or VACUUM's
  * reclaimed-object count, Delta's metrics shapes reduced to what is
  * deterministic. */
case class GraftMaintenanceCommand(kind: String, target: String,
    cols: Seq[String] = Nil, retainMs: Option[Long] = None,
    dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = kind match {
    case "optimize" =>
      Seq(Row("optimize", GraftDml.runOptimize(spark, target, cols)))
    case "vacuum" =>
      Seq(Row(if (dryRun) "vacuum_dryrun" else "vacuum",
        GraftDml.runVacuum(spark, target,
          retainMs.getOrElse(604800000L), dryRun)))
  }
}

/** the parser extension itself: graft DML shapes route to
  * [[GraftDmlCommand]], every other statement — and every other
  * parser surface (expressions, identifiers, schemas) — delegates to
  * Spark's parser byte-for-byte. Injected via
  * `SparkSessionExtensions.injectParser` in
  * [[graft.GraftSession.builder]]. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  @throws[ParseException]
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftDml.parse(sqlText).getOrElse(
      GraftTimeTravel.rewrite(delegate.parsePlan(sqlText)))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}
