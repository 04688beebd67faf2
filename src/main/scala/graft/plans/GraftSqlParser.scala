package graft.plans

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType,
  LongType, StringType, StructType}

/** Parser-tier extension (`SparkSessionExtensions.injectParser`) — the last
  * of the four public extension tiers (the others: expressions/functions,
  * optimizer rule, planner strategy — `functions/GraftExtensions`). Adds
  * this engine's statements to Spark SQL:
  *  - maintenance and metadata for the manifest-committed tables
  *    ([[graft.sources.GraftManifestSink]]): VACUUM, OPTIMIZE, REORG,
  *    RESTORE, SHALLOW CLONE, DESCRIBE HISTORY/DETAIL, branches, tags,
  *    constraints, SET PARTITIONING, materialized views;
  *  - row-level DML lowered to the table's commit pipeline: UPDATE,
  *    MERGE, DELETE with an untranslatable predicate, INSERT … REPLACE
  *    WHERE, COPY INTO;
  *  - index DDL (CREATE/DROP/REFRESH TEXT|VECTOR INDEX) and the six
  *    index-serve statements ([[Serve]]), standalone, composable and
  *    under EXPLAIN;
  *  - the QUALIFY clause, rewritten to the subquery it abbreviates.
  *
  * A statement that names this engine's keyword but misses its clause
  * shape raises a targeted error; everything else delegates VERBATIM to
  * Spark's own parser — the extension adds syntax without forking the
  * grammar. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import Serve.balancedCloseFrom

  private val Vacuum =
    ("""(?is)\s*VACUUM\s+MANIFEST\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+SNAPSHOTS)?""" +
      """(?:\s+OLDER\s+THAN\s+(\d+)\s+MINUTES)?(\s+DRY\s+RUN)?\s*;?\s*""").r

  /** `VACUUM <catalog table name> …` — same maintenance pass addressed the
    * way every other statement addresses tables (the Delta spelling). The
    * negative lookahead keeps the path form (`VACUUM MANIFEST '<dir>'`)
    * owned by [[Vacuum]]; Spark's own grammar has no VACUUM, so neither
    * form shadows delegate syntax. */
  private val VacuumTable =
    ("""(?is)\s*VACUUM\s+(?!MANIFEST\s)((?:[\w.]+|`[^`]+`)+)(?:\s+RETAIN\s+(\d+)\s+SNAPSHOTS)?""" +
      """(?:\s+OLDER\s+THAN\s+(\d+)\s+MINUTES)?(\s+DRY\s+RUN)?\s*;?\s*""").r

  /** `UPDATE t SET c = expr [, …] [WHERE pred]` — like MERGE, Spark's own
    * parser accepts this but executing it needs row-level-operation
    * support; this tier lowers it to the sink's copy-on-write rewrite
    * ([[graft.sources.ManifestTable.updateWhere]]): zone maps skip files
    * the predicate provably misses, only touched files rewrite, one atomic
    * swap publishes. SET right-hand sides and the predicate pass through
    * as SQL text and are evaluated by Spark's expression engine against
    * the OLD row. A statement whose SET list does not split into
    * `ident = expr` assignments (or with unbalanced quotes — a quoted
    * literal could hide a WHERE from this regex) falls through to the
    * delegate verbatim and fails with Spark's own row-level-ops error. */
  private val Update =
    """(?is)\s*UPDATE\s+((?:[\w.]+|`[^`]+`)+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val Assign = """(?s)\s*([\w.]+)\s*=\s*(.+?)\s*""".r

  /** `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET [PATTERN = '<glob>']`
    * — idempotent file-level ingestion (each source file loads exactly
    * once; see [[graft.sources.ManifestTable.copyInto]]). Spark's grammar
    * has no COPY, so nothing shadows the delegate. */
  private val CopyInto =
    ("""(?is)\s*COPY\s+INTO\s+((?:[\w.]+|`[^`]+`)+)\s+FROM\s+'([^']+)'""" +
      """\s+FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*""").r

  /** `DESCRIBE HISTORY t` — one row per committed snapshot of a manifest
    * table (version, file count, row count), newest last. The Delta
    * statement; Spark's grammar has no HISTORY form, so this never shadows
    * delegate syntax. */
  private val History =
    """(?is)\s*DESCRIBE\s+HISTORY\s+((?:[\w.]+|`[^`]+`)+)\s*;?\s*""".r

  /** `DESCRIBE DETAIL t` — one-row physical summary of a manifest table
    * (Delta's statement): location, live file count/bytes/rows, partition
    * columns, snapshot count, user property count. Metadata-only. */
  private val Detail =
    """(?is)\s*DESCRIBE\s+DETAIL\s+((?:[\w.]+|`[^`]+`)+)\s*;?\s*""".r

  /** `OPTIMIZE t [TARGET n BYTES] [WHERE pred] [ZORDER BY (c1, c2)]` —
    * compact a manifest table's current data files into ~n-byte outputs
    * (default 128 MiB) through one distributed rewrite + atomic swap.
    * WHERE scopes the rewrite to the files the zone maps cannot exclude
    * for the predicate (file granularity — Delta's partition-scoped
    * OPTIMIZE): compacting one day of a huge table touches that day's
    * files only. With ZORDER BY the rewrite range-partitions + sorts on
    * the Morton interleave of the two columns (scaled by the manifest's
    * own zone-map ranges), so after the rewrite min-max file skipping
    * prunes selective predicates on EITHER column. Delta's statement
    * shape; Spark's grammar has no OPTIMIZE, so the regex never shadows
    * delegate syntax. */
  private val Optimize =
    ("""(?is)\s*OPTIMIZE\s+((?:[\w.]+|`[^`]+`)+)(?:\s+TARGET\s+(\d+)\s+BYTES)?""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(\s*([\w.]+)(?:\s*,\s*([\w.]+))?""" +
      """(?:\s*,\s*([\w.]+))?\s*\))?\s*;?\s*""").r

  /** `RESTORE TABLE t TO VERSION AS OF n` — metadata-only rollback to an
    * archived snapshot (Delta's statement). The pre-restore state archives
    * too, so RESTORE is itself undoable. */
  private val Restore =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r

  /** `RESTORE TABLE t TO TIMESTAMP AS OF 'ts'` — the time-addressed twin:
    * rolls back to the NEWEST snapshot committed at or before `ts` (the
    * same commit-mtime authority the read-side `TIMESTAMP AS OF` uses). */
  private val RestoreTs =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r

  /** `CREATE TABLE t SHALLOW CLONE s [VERSION AS OF n]` — metadata-only
    * copy of a manifest table (Delta's statement shape; Spark's CREATE
    * grammar has no CLONE, so the regex never shadows delegate syntax). */
  private val Clone =
    ("""(?is)\s*CREATE\s+TABLE\s+((?:[\w.]+|`[^`]+`)+)\s+SHALLOW\s+CLONE\s+((?:[\w.]+|`[^`]+`)+)""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""").r

  /** `CREATE MATERIALIZED VIEW t AS <query>` / `REFRESH MATERIALIZED VIEW
    * t` — the lakehouse MV surface ([[MaterializedView]]): CREATE stores
    * the query result as a manifest table with the (query, source,
    * snapshot) recorded in its props; REFRESH rides the source's snapshot
    * trail — INCREMENTAL for decomposable aggregates over an append-only
    * window, full recompute otherwise. Spark's grammar has no MATERIALIZED
    * form, so neither regex shadows delegate syntax. */
  private val CreateMv =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+(.+?)\s*;?\s*""".r
  private val RefreshMv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r

  /** `ALTER TABLE t SET PARTITIONING (days(ts), bucket(8, id), col, …)` —
    * PARTITION EVOLUTION (Iceberg's REPLACE PARTITION FIELD, spelled as
    * one statement): swap the table's clustering contract metadata-only.
    * `SET PARTITIONING ()` un-partitions. Spark's ALTER grammar has no
    * SET PARTITIONING form, so the regex never shadows delegate syntax. */
  private val AlterPartitioning =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+PARTITIONING\s*\(\s*(.*?)\s*\)\s*;?\s*""".r

  /** Branch refs + write-audit-publish ([[graft.sources.Branch]]):
    * `ALTER TABLE t CREATE BRANCH b` forks the current snapshot as the
    * addressable table `` t@b ``; `FAST FORWARD BRANCH b` publishes the
    * branch state as main's next version iff main never advanced;
    * `DROP BRANCH b` abandons it. Spark's ALTER grammar has none of
    * these forms, so the regexes never shadow delegate syntax. */
  private val CreateBranch =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+BRANCH\s+(\w+)\s*;?\s*""".r
  private val DropBranch =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+BRANCH\s+(\w+)\s*;?\s*""".r
  private val FastForward =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+FAST\s+FORWARD\s+BRANCH\s+(\w+)\s*;?\s*""".r
  private val ShowBranches =
    """(?is)\s*SHOW\s+BRANCHES\s+((?:[\w.]+|`[^`]+`)+)\s*;?\s*""".r

  /** Immutable tag refs ([[graft.sources.Tag]]): `ALTER TABLE t CREATE
    * TAG r [AS OF VERSION n]` pins a snapshot as the read-only table
    * `` t@r `` — the reproducible-data-release primitive; `DROP TAG r`
    * reaps the ref (VACUUM then collects what nothing else reaches).
    * Spark's ALTER grammar has no TAG forms, so the regexes never shadow
    * delegate syntax. */
  private val CreateTag =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+TAG\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""".r
  private val DropTag =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+TAG\s+(\w+)\s*;?\s*""".r
  private val ShowTags =
    """(?is)\s*SHOW\s+TAGS\s+((?:[\w.]+|`[^`]+`)+)\s*;?\s*""".r

  /** `ALTER TABLE t ADD CONSTRAINT name CHECK (pred)` / `DROP CONSTRAINT
    * name` — Delta's constraint DDL, lowered to the engine's `check.*`
    * table properties (validated at DDL time, enforced per row at every
    * write — [[graft.sources.Constraints]]). Spark's ALTER grammar has no
    * CONSTRAINT form, so the regexes never shadow delegate syntax. */
  private val AddConstraint =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraint =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r

  /** `DELETE FROM t WHERE pred` with a predicate the v1 Filter dialect
    * cannot express (`id % 3 = 0`, function-of-column shapes): Spark's
    * native DSv2 DELETE refuses such predicates outright
    * (`cannotDeleteTableWhereFiltersError`), so the parser lowers them to
    * the expression tier ([[graft.sources.ManifestTable.deleteWhereSql]]).
    * Translatable predicates (and bare DELETE FROM t) DELEGATE — Spark's
    * own path drives the same deleteWhere with its metadata-only drop
    * tier, and non-manifest targets keep their native behavior. */
  private val DeleteStmt =
    """(?is)\s*DELETE\s+FROM\s+((?:[\w.]+|`[^`]+`)+)\s+WHERE\s+(.+?)\s*;?\s*""".r

  /** `INSERT INTO t REPLACE WHERE cond <query>` (Delta's SQL spelling of
    * replaceWhere): atomically replace exactly the rows matching `cond`
    * with the query's result — the partition-rebuild statement. Lowers to
    * the DSv2 `SupportsOverwrite` path the DataFrame
    * `writeTo(t).overwrite(cond)` API drives. Spark's grammar has no
    * REPLACE WHERE form, so the regex never shadows delegate syntax. */
  private val InsertReplaceWhere =
    """(?is)\s*INSERT\s+INTO\s+((?:[\w.]+|`[^`]+`)+)\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\s.+?|FROM\s.+?|VALUES\s.+?)\s*;?\s*""".r

  /** `REORG TABLE t APPLY (PURGE)` — Delta's statement: materialize the
    * deletion vectors by rewriting ONLY the DV-bearing files
    * ([[graft.sources.ManifestTable.reorgPurge]]). Spark's grammar has no
    * REORG form, so the regex never shadows delegate syntax. */
  private val Reorg =
    """(?is)\s*REORG\s+TABLE\s+((?:[\w.]+|`[^`]+`)+)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*""".r

  /** `CREATE TEXT INDEX ON t (col)` / `DROP TEXT INDEX ON t (col)` —
    * file-level inverted token index ([[graft.sources.TextIndex]]): a
    * token-match query plans only the posting list's files; a stale index
    * (file set changed) silently falls back to a full scan. Spark's
    * grammar has no TEXT INDEX form, so the regexes never shadow delegate
    * syntax. */
  private val CreateTextIdx =
    ("""(?is)\s*CREATE\s+TEXT\s+INDEX\s+ON\s+((?:[\w.]+|`[^`]+`)+)""" +
      """\s*\(\s*(\w+)\s*\)(?:\s+(BY\s+PARTITION))?\s*;?\s*""").r
  private val DropTextIdx =
    """(?is)\s*DROP\s+TEXT\s+INDEX\s+ON\s+((?:[\w.]+|`[^`]+`)+)\s*\(\s*(\w+)\s*\)\s*;?\s*""".r

  /** `CREATE VECTOR INDEX ON t (col) ANCHORS (idCol)` / `DROP VECTOR INDEX
    * ON t (col)` — file-level IVF index ([[graft.sources.VectorIndex]]):
    * ANN probes plan only the probe cluster's files; the declared anchor
    * column makes the trained geometry oracle-replayable. */
  private val CreateVecIdx =
    ("""(?is)\s*CREATE\s+VECTOR\s+INDEX\s+ON\s+((?:[\w.]+|`[^`]+`)+)""" +
      """\s*\(\s*(\w+)\s*\)\s+ANCHORS\s*\(\s*(\w+)\s*\)""" +
      """(?:\s+LISTS\s+(\d+))?(?:\s+SAMPLE\s+(\d+))?""" +
      """(?:\s+COARSE\s+PROBES\s+(\d+))?(?:\s+(BY\s+PARTITION))?\s*;?\s*""").r
  private val DropVecIdx =
    """(?is)\s*DROP\s+VECTOR\s+INDEX\s+ON\s+((?:[\w.]+|`[^`]+`)+)\s*\(\s*(\w+)\s*\)\s*;?\s*""".r

  /** `REFRESH TEXT|VECTOR INDEX ON t (col)` — always incremental: dead
    * files' postings drop, only files not previously indexed (appends,
    * compaction output) tokenize/assign; the IVF index keeps its trained
    * geometry across any divergence (CREATE retrains on demand). */
  private val RefreshIdx =
    ("""(?is)\s*REFRESH\s+(TEXT|VECTOR)\s+INDEX\s+ON\s+""" +
      """((?:[\w.]+|`[^`]+`)+)\s*\(\s*(\w+)\s*\)\s*;?\s*""").r

  /** Split on `sep` at paren depth 0 outside single-quoted literals
    * (shared with the MERGE clause parser). */
  private def splitTop(s: String, sep: Char): Seq[String] =
    MergeParse.splitTop(s, sep)

  /** Best-effort parse-time check that `target` resolves to one of this
    * engine's manifest tables. A statement this parser would lower based
    * on SHAPE alone must still DELEGATE when the target belongs to
    * another connector (which may have its own row-level DELETE path) or
    * does not resolve at all (the delegate produces the proper error). */
  private def resolvesToManifestTable(target: String): Boolean =
    try graft.sources.ManifestTable
      .find(org.apache.spark.sql.SparkSession.active, target).isDefined
    catch { case _: Exception => false }

  /** A serve statement's parenthesized group INSIDE a larger statement —
    * the composable-relation form. The rewrite finds the first group
    * outside quoted text ([[Serve.group]]), builds the statement's
    * DataFrame (plan construction plus the index tier's small metadata
    * reads, no corpus work), registers it as a session temp view, and
    * substitutes the view name so the surrounding SELECT/JOIN/CTE parses
    * through the delegate untouched: `SELECT d.text, v.sim FROM (VECTOR
    * SEARCH ON t (emb) PROBE (…) TOP 10) v JOIN docs d ON v.vec_id = d.id`
    * works like any relation. Multiple groups rewrite one per recursion;
    * a group's own subqueries (a USING query) rewrite when its builder
    * parses them. A group that does not match its statement's grammar
    * raises that statement's clause-shape error. */
  private def rewriteServeGroup(sql: String): Option[String] = for {
    (open, close) <- Serve.group(sql)
    inner = sql.substring(open + 1, close)
    serve <- Serve.unapply(inner).orElse(customSyntaxError(inner.trim))
  } yield {
    // deterministic name (hash of the inner text): a session serving the
    // same statement repeatedly reuses ONE temp view instead of leaking a
    // fresh one per parse — the view count is bounded by the distinct
    // statements parsed
    val view = "graft_serve_" + Integer.toHexString(inner.trim.hashCode)
    serve.df(SparkSession.active).createOrReplaceTempView(view)
    sql.substring(0, open) + view + sql.substring(close + 1)
  }

  /** `SELECT … QUALIFY <pred> [ORDER BY …] [LIMIT …]` — the
    * Snowflake/DuckDB/BigQuery post-window filter Spark's grammar
    * lacks, rewritten at parse time into the subquery it abbreviates:
    * `SELECT * FROM (<head>) graft_qualify WHERE <pred> <tail>`, then
    * re-fed through the FULL parser (nested custom statements still
    * lower). The predicate references SELECT-list ALIASES — name the
    * window expression in the list and filter it here, which keeps the
    * clause a pure abbreviation with one unambiguous meaning; an
    * inline OVER( in the predicate raises a targeted error instead of
    * a generic ParseException. The keyword scan is quote-aware and
    * depth-0 only — but a top-level WITH is accepted (the whole
    * statement wraps), and QUALIFY inside a CTE arm rewrites through
    * [[rewriteQualifyCteArms]] (each arm body is a complete statement
    * body of its own); a QUALIFY inside any OTHER subquery or a
    * literal is left for that statement's own parse. */
  private def rewriteQualify(sql: String): Option[String] =
    rewriteQualifyCteArms(sql).orElse(rewriteQualifyTop(sql))

  /** Keyword `w` occupies `pos` as a whole word (not an identifier
    * fragment — `_` counts as a word char). */
  private def wordAtIn(sql: String, upper: String, pos: Int,
      w: String): Boolean =
    upper.startsWith(w, pos) &&
      (pos == 0 || !Character.isLetterOrDigit(sql.charAt(pos - 1)) &&
        sql.charAt(pos - 1) != '_') &&
      (pos + w.length >= sql.length ||
        !Character.isLetterOrDigit(sql.charAt(pos + w.length)) &&
          sql.charAt(pos + w.length) != '_')

  /** QUALIFY inside the CTE arms of a top-level WITH (r15 — the
    * depth-0-only rewrite previously fell through to Spark's generic
    * ParseException here): each depth-0 `AS ( <body> )` group of the
    * WITH clause is recursively re-fed through [[rewriteQualify]], so
    * `WITH c AS (SELECT … QUALIFY …) SELECT …` lowers arm-by-arm; a
    * depth-0 QUALIFY on the main body then wraps on the next
    * parsePlan pass. Fires only if some arm actually changed. */
  private def rewriteQualifyCteArms(sql: String): Option[String] = {
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    if (!upper.contains("QUALIFY")) return None
    val lead = sql.indexWhere(!_.isWhitespace)
    if (lead < 0 || !wordAtIn(sql, upper, lead, "WITH")) return None
    val out = new StringBuilder
    var last = 0
    var i = lead
    var depth = 0
    var quote: Char = 0
    var changed = false
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"' || ch == '`') quote = ch
      else if (ch == '(') depth += 1
      else if (ch == ')') depth -= 1
      else if (depth == 0 && wordAtIn(sql, upper, i, "AS")) {
        var j = i + 2
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        if (j < sql.length && sql.charAt(j) == '(') {
          balancedCloseFrom(sql, j) match {
            case Some(close) =>
              val body = sql.substring(j + 1, close)
              rewriteQualify(body) match {
                case Some(nb) =>
                  out.append(sql.substring(last, j + 1)).append(nb)
                  last = close
                  changed = true
                case None => ()
              }
              i = close // the arm body was scanned; resume after it
            case None => return None
          }
        }
      }
      i += 1
    }
    if (!changed) return None
    out.append(sql.substring(last))
    Some(out.toString)
  }

  private def rewriteQualifyTop(sql: String): Option[String] = {
    val upper = sql.toUpperCase(java.util.Locale.ROOT)
    if (!upper.contains("QUALIFY")) return None
    def wordAt(pos: Int, w: String): Boolean = wordAtIn(sql, upper, pos, w)
    // depth-0, quote-aware positions of QUALIFY and the trailing clauses
    var i = 0
    var depth = 0
    var quote: Char = 0
    var at = -1
    var tailAt = -1
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"' || ch == '`') quote = ch
      else if (ch == '(') depth += 1
      else if (ch == ')') depth -= 1
      else if (depth == 0) {
        if (at < 0 && wordAt(i, "QUALIFY")) at = i
        else if (at >= 0 && tailAt < 0 &&
          (wordAt(i, "ORDER") || wordAt(i, "LIMIT"))) tailAt = i
      }
      i += 1
    }
    if (at < 0) return None
    val head = sql.substring(0, at).trim
    val headUp = head.toUpperCase(java.util.Locale.ROOT)
    // a WITH-prefixed head wraps whole (Spark parses CTEs inside a
    // subquery alias), so `WITH … SELECT … QUALIFY …` lowers too (r15)
    if (!headUp.startsWith("SELECT") && !headUp.startsWith("WITH"))
      return None
    // `qualify` is non-reserved in Spark: a statement using it as an
    // IDENTIFIER (`SELECT qualify FROM t`, `WHERE qualify = 1`) must
    // delegate untouched — only a QUALIFY that follows a complete
    // clause (head contains FROM and doesn't dangle on an operator or
    // keyword) is the clause form. The dangling check looks at BOTH
    // the last whitespace-split token and the head's final character,
    // so an unspaced operator (`WHERE b=qualify`) delegates too (r15).
    val headToks = headUp.split("[\\s(,)]+").filter(_.nonEmpty)
    val lastTok = headToks.lastOption.getOrElse("")
    val lastCh = head.lastOption.getOrElse(' ')
    if (!headToks.contains("FROM") || "=<>!+-*/%,|&^:.".contains(lastCh) ||
      Set("WHERE", "AND", "OR", "ON", "NOT", "BY", "SELECT", "JOIN",
        "HAVING", "THEN", "ELSE", "WHEN", "AS", "=", "<", ">", "<=",
        ">=", "<>", "!=", "+", "-", "*", "/", ",").contains(lastTok))
      return None
    val afterQualify = sql.substring(at + "QUALIFY".length)
    val (pred, tail) =
      if (tailAt < 0) (afterQualify.trim.stripSuffix(";").trim, "")
      else (sql.substring(at + "QUALIFY".length, tailAt).trim,
        sql.substring(tailAt).trim.stripSuffix(";").trim)
    if (pred.isEmpty || pred.count(_ == '\'') % 2 != 0) return None
    if ("""(?i)\bOVER\s*\(""".r.findFirstIn(pred).isDefined)
      throw new IllegalArgumentException(
        "QUALIFY: name the window expression in the SELECT list and " +
          "reference its alias in QUALIFY (inline OVER(...) predicates " +
          "are not supported by the rewrite)")
    Some(s"SELECT * FROM ($head) graft_qualify WHERE $pred" +
      (if (tail.isEmpty) "" else s" $tail"))
  }

  /** `EXPLAIN [mode] <custom statement>` (r15): the serve statements
    * this parser owns ([[Serve.syntaxes]]) are commands, so the delegate's
    * EXPLAIN can't see through them — rewrite to the statement's OWN
    * composable-relation form (`EXPLAIN [mode] SELECT * FROM (<stmt>)`)
    * and re-feed, so EXPLAIN renders the underlying serve dataflow's
    * plan instead of erroring.
    *
    * Caveat (accepted): the composable-relation rewriter builds the serve
    * DataFrame eagerly at parse time, so for SEMANTIC/MINHASH DEDUP this
    * EXPLAIN runs the bounded driver collects (candidate-file lists) and
    * localCheckpoints the statement's serve path needs — real Spark jobs,
    * not pure planning, and a data error surfaces at EXPLAIN time. A
    * lazier path would defer those behind a command wrapper; today the
    * relation form IS the plan being explained, so the cost is the
    * statement's own bounded staging. */
  private val ExplainCustom =
    ("""(?is)\s*EXPLAIN(\s+(?:EXTENDED|CODEGEN|COST|FORMATTED))?\s+""" +
      "((?:" + Serve.keywords + """)\s+ON\s+.*?)\s*;?\s*""").r

  private def rewriteExplainCustom(sql: String): Option[String] =
    sql match {
      case ExplainCustom(mode, stmt) =>
        Some(s"EXPLAIN${Option(mode).getOrElse("")} " +
          s"SELECT * FROM (${stmt.trim})")
      case _ => None
    }

  override def parsePlan(sqlText: String): LogicalPlan =
    rewriteExplainCustom(sqlText)
      .orElse(rewriteServeGroup(sqlText))
      .orElse(rewriteQualify(sqlText)) match {
      case Some(rewritten) => parsePlan(rewritten)
      case None => parsePlanMatched(sqlText)
    }

  private def parsePlanMatched(sqlText: String): LogicalPlan = sqlText match {
    case Vacuum(dir, retain, olderMin, dry) =>
      val keep = Option(retain).map(_.toInt)
      // RETAIN 0 would silently behave as RETAIN 1 (the current manifest is
      // always reachable) — reject instead of diverging from what was asked.
      keep.filter(_ < 1).foreach { k =>
        throw new IllegalArgumentException(
          s"VACUUM MANIFEST: RETAIN $k SNAPSHOTS is invalid — at least 1 " +
            "snapshot (the current version) is always retained")
      }
      VacuumManifestCommand(dir, keep, Option(olderMin).map(_.toLong),
        dryRun = dry != null)
    case VacuumTable(target, retain, olderMin, dry) =>
      val keep = Option(retain).map(_.toInt)
      keep.filter(_ < 1).foreach { k =>
        throw new IllegalArgumentException(
          s"VACUUM: RETAIN $k SNAPSHOTS is invalid — at least 1 snapshot " +
            "(the current version) is always retained")
      }
      VacuumTableCommand(target, keep, Option(olderMin).map(_.toLong),
        dryRun = dry != null)
    case Update(target, setList, where) =>
      val assigns = splitTop(setList, ',').map {
        case Assign(c, rhs) => Some(c.split("\\.").last -> rhs)
        case _ => None
      }
      val balanced = setList.count(_ == '\'') % 2 == 0 &&
        Option(where).forall(_.count(_ == '\'') % 2 == 0)
      if (balanced && assigns.nonEmpty && assigns.forall(_.isDefined))
        UpdateManifestCommand(target, assigns.flatten, Option(where))
      else delegate.parsePlan(sqlText)
    case CreateTextIdx(target, colName, byPart) =>
      CreateTextIndexCommand(target, colName, byPart != null)
    case DropTextIdx(target, colName) => DropTextIndexCommand(target, colName)
    case CreateVecIdx(target, colName, idCol, lists, sample, coarse, byPart) =>
      CreateVectorIndexCommand(target, colName, idCol,
        Option(lists).map(_.toLong), Option(sample).map(_.toLong),
        Option(coarse).map(_.toInt).getOrElse(2), byPart != null)
    case DropVecIdx(target, colName) => DropVectorIndexCommand(target, colName)
    case RefreshIdx(kind, target, colName) =>
      RefreshIndexCommand(kind.toLowerCase, target, colName)
    case Serve(serve) => ServeCommand(serve)
    case History(target) => DescribeHistoryCommand(target)
    case Detail(target) => DescribeDetailCommand(target)
    case Optimize(target, targetBytes, where, zc1, zc2, zc3)
      if Option(where).forall(_.count(_ == '\'') % 2 == 0) =>
      OptimizeManifestCommand(target,
        Option(targetBytes).map(_.toLong).getOrElse(128L * 1024 * 1024),
        Option(zc1).map(a =>
          (Seq(a) ++ Option(zc2).toSeq ++ Option(zc3).toSeq)
            .map(_.split("\\.").last)),
        Option(where))
    case Restore(target, version) => RestoreTableCommand(target, version.toInt)
    case Clone(target, source, version) =>
      CloneTableCommand(target, source, Option(version).map(_.toInt))
    case CreateMv(target, query) if query.count(_ == '\'') % 2 == 0 =>
      CreateMaterializedViewCommand(target, query)
    case RefreshMv(target) => RefreshMaterializedViewCommand(target)
    case AlterPartitioning(target, spec) =>
      AlterPartitioningCommand(target,
        splitTop(spec, ',').map(_.trim).filter(_.nonEmpty))
    case CreateBranch(target, branch) => BranchCommand(target, branch, "create")
    case DropBranch(target, branch) => BranchCommand(target, branch, "drop")
    case FastForward(target, branch) => BranchCommand(target, branch, "fastforward")
    case ShowBranches(target) => ShowBranchesCommand(target)
    case CreateTag(target, tag, version) =>
      TagCommand(target, tag, "create", Option(version).map(_.toInt))
    case DropTag(target, tag) => TagCommand(target, tag, "drop", None)
    case ShowTags(target) => ShowTagsCommand(target)
    case RestoreTs(target, ts) => RestoreTimestampCommand(target, ts)
    case AddConstraint(target, name, pred) if pred.count(_ == '\'') % 2 == 0 =>
      // lower to the property form the catalog already validates/enforces
      delegate.parsePlan(s"ALTER TABLE $target SET TBLPROPERTIES " +
        s"('check.$name' = '${pred.trim.replace("'", "''")}')")
    case DropConstraint(target, name) =>
      delegate.parsePlan(
        s"ALTER TABLE $target UNSET TBLPROPERTIES ('check.$name')")
    case Reorg(target) => ReorgTableCommand(target)
    case CopyInto(target, source, format, pattern) =>
      CopyIntoCommand(target, source, format, Option(pattern))
    case InsertReplaceWhere(target, cond, query)
      if cond.count(_ == '\'') % 2 == 0 && query.count(_ == '\'') % 2 == 0 =>
      InsertReplaceWhereCommand(target, cond, query)
    case DeleteStmt(target, where) if where.count(_ == '\'') % 2 == 0 &&
        (try {
          import graft.sources.ManifestTable
          !ManifestTable.conjuncts(delegate.parseExpression(where))
            .forall(c => ManifestTable.exprFilter(c).isDefined)
        } catch { case _: Exception => false }) &&
        resolvesToManifestTable(target) =>
      // only the untranslatable-predicate shape ON A MANIFEST TABLE lowers
      // here; everything else (translatable, unparseable, non-WHERE, or a
      // non-graft target whose own connector may support the DELETE)
      // delegates verbatim
      DeleteManifestCommand(target, where)
    case _ => mergeOrDelegate(sqlText)
  }

  /** Statements that unambiguously target THIS engine's custom grammar
    * (no Spark statement starts with these keywords) but failed their
    * full pattern — raise a targeted syntax error describing the
    * expected clause shape instead of delegating into a generic Spark
    * ParseException that never mentions the statement. Checked from
    * [[mergeOrDelegate]] so every custom-shaped miss lands here. */
  private val CustomSyntax: Seq[(String, String)] =
    Serve.syntaxes.map(s => s.keyword -> s.help) ++ Seq(
      "QUALIFY" ->
        ("SELECT … FROM … QUALIFY <pred> [ORDER BY …] [LIMIT …] — the " +
          "post-window filter: name the window expression in the SELECT " +
          "list and reference its alias in the predicate (rewritten to " +
          "the subquery it abbreviates; composes with WITH and CTE arms)"),
      "CREATE VECTOR INDEX" ->
        ("CREATE VECTOR INDEX ON <table> (<col>) ANCHORS (<idCol>) " +
          "[LISTS <k>] [SAMPLE <n>] [COARSE PROBES <c>] [BY PARTITION] — " +
          "clauses in this order"),
      "DROP VECTOR INDEX" -> "DROP VECTOR INDEX ON <table> (<col>)",
      "CREATE TEXT INDEX" ->
        "CREATE TEXT INDEX ON <table> (<col>) [BY PARTITION]",
      "DROP TEXT INDEX" -> "DROP TEXT INDEX ON <table> (<col>)",
      "REFRESH TEXT INDEX" -> "REFRESH TEXT INDEX ON <table> (<col>)",
      "REFRESH VECTOR INDEX" -> "REFRESH VECTOR INDEX ON <table> (<col>)",
      "VACUUM MANIFEST" ->
        ("VACUUM MANIFEST '<dir>' [RETAIN <n> SNAPSHOTS] " +
          "[STAGING OLDER THAN <m> MINUTES] [DRY RUN]"),
      "COPY INTO" ->
        "COPY INTO <table> FROM '<dir>' FILEFORMAT = <fmt> [PATTERN = '<glob>']")

  private def customSyntaxError(sqlText: String): Option[Nothing] = {
    // normalize only the statement HEAD (longest keyword is 19 chars):
    // this runs on every delegate-bound parse, so a multi-MB generated
    // SELECT must not pay a whole-string regex for a startsWith check
    var s = 0
    while (s < sqlText.length && sqlText.charAt(s).isWhitespace) s += 1
    val head = sqlText.substring(s, math.min(sqlText.length, s + 64))
      .replaceAll("\\s+", " ").toUpperCase
    CustomSyntax.collectFirst {
      case (kw, expected) if head.startsWith(kw) =>
        throw new IllegalArgumentException(
          s"$kw: statement matched this engine's $kw keyword but not its " +
            s"clause shape — expected: $expected")
    }
  }

  /** MERGE lowering: the full clause surface (whole-row `UPDATE SET * /
    * INSERT *` included, plus conditional matched clauses, column-level
    * SET, DELETE actions, INSERT column lists, NOT MATCHED BY SOURCE —
    * see [[MergeParse]]) lowers to the full-outer-join formulation,
    * FILE-BOUNDED when no NOT-MATCHED-BY-SOURCE clause exists; shapes it
    * cannot express delegate VERBATIM to Spark's parser and fail with
    * Spark's own row-level-ops error rather than silently computing
    * something else. */
  private def mergeOrDelegate(sqlText: String): LogicalPlan =
    MergeParse.parse(sqlText) match {
      case Some(spec) => MergeIntoFullCommand(spec)
      case None =>
        customSyntaxError(sqlText)
        delegate.parsePlan(sqlText)
    }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** The lowered UPDATE: locate the target's manifest directory through the
  * analyzed relation, then hand the assignment list and predicate (both
  * still SQL text) to [[graft.sources.ManifestTable.updateWhere]] — zone
  * maps bound the rewrite set, the swap is atomic, replaced files stay
  * reachable through archived snapshots. Only a graft manifest table has
  * that machinery; anything else gets a clear error rather than Spark's
  * generic row-level-ops failure with this command's name on it. */
case class UpdateManifestCommand(target: String, sets: Seq[(String, String)],
    where: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "UPDATE")
    graft.sources.ManifestTable.updateWhere(mt.dir, sets, where)
    Seq.empty
  }
}

/** The lowered `INSERT INTO t REPLACE WHERE cond <query>`: evaluates the
  * query and drives the DSv2 SupportsOverwrite path — drop provably
  * all-matching files metadata-only, rewrite cut files keeping
  * non-matching rows, land the new files, one conflict-checked swap. */
case class InsertReplaceWhereCommand(target: String, cond: String,
    query: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty

  override def run(spark: SparkSession): Seq[Row] = {
    // resolve-first: a non-manifest target must fail in REPLACE WHERE
    // terms, not as a confusing overwrite-capability error
    ManifestTarget.of(spark, target, "INSERT INTO ... REPLACE WHERE")
    // INSERT is positional: align the query's output to the target's
    // columns by position (a bare VALUES list arrives as col1, col2, …)
    val df = spark.sql(query)
    val tcols = spark.table(target).columns
    if (df.columns.length != tcols.length)
      throw new IllegalArgumentException(
        s"INSERT INTO ... REPLACE WHERE: query produces ${df.columns.length} " +
          s"columns, target $target has ${tcols.length}")
    df.toDF(tcols.toIndexedSeq: _*).writeTo(target)
      .overwrite(org.apache.spark.sql.functions.expr(cond))
    Seq.empty
  }
}

/** The lowered expression-tier DELETE ([[graft.sources.ManifestTable
  * .deleteWhereSql]]) — reached only for predicates the v1 Filter dialect
  * cannot express; translatable DELETEs keep Spark's native path. */
case class DeleteManifestCommand(target: String, where: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "DELETE")
    graft.sources.ManifestTable.deleteWhereSql(mt.dir, where)
    Seq.empty
  }
}

/** Snapshot history of a manifest table: one row per archived version
  * (every commit archives the state it published, so the newest row IS the
  * current table). Driver-side metadata only — no data files open. */
case class DescribeHistoryCommand(target: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("n_files", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "DESCRIBE HISTORY")
    graft.sources.Commits.history(mt.dir).map { case (v, files, rows, _) =>
      Row(v, files, rows)
    }
  }
}

/** One-row physical summary of a manifest table (the Delta `DESCRIBE
  * DETAIL` analog): location, live file count / bytes / rows, declared
  * partition columns, archived snapshot count, user property count.
  * Driver-side metadata + file sizes only — no data file opens; file
  * sizes resolve through the shallow-clone chain like the scan does. */
case class DescribeDetailCommand(target: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("num_snapshots", IntegerType, nullable = false)(),
    AttributeReference("num_properties", IntegerType, nullable = false)(),
    AttributeReference("num_deletion_vectors", IntegerType, nullable = false)(),
    AttributeReference("num_deleted_rows", LongType, nullable = false)(),
    AttributeReference("num_segments", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "DESCRIBE DETAIL")
    import graft.sources.Manifest
    val dir = mt.dir
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"DESCRIBE DETAIL: no manifest at $dir"))
    val chain = Manifest.resolveChain(dir)
    val bytes = m.entries.map { e =>
      val p = Manifest.resolveData(chain, e.name)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    Seq(Row(dir.toString, m.entries.length, bytes, m.entries.map(_.liveRows).sum,
      Manifest.partitionCols(dir).mkString(","),
      Manifest.snapshotVersions(dir).length,
      m.props.count(_._1.startsWith(graft.sources.GraftCatalog.TblPropPrefix)),
      m.entries.count(_.dv.isDefined),
      m.entries.map(e => e.rows - e.liveRows).sum,
      m.segments.length))
  }
}

/** The lowered OPTIMIZE: one distributed rewrite of the table's live files
  * into ~targetBytes outputs via [[graft.sources.ManifestTable.optimize]],
  * Z-order-clustered when `zorderBy` names two or three numeric columns (zorder64 / zorder3). Reports
  * (files_before, files_after); a plain compaction already at or under the
  * target count is a no-op with before == after. */
case class OptimizeManifestCommand(target: String, targetBytes: Long,
    zorderBy: Option[Seq[String]] = None, whereSql: Option[String] = None)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.types.IntegerType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", IntegerType, nullable = false)(),
    AttributeReference("files_after", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    require(targetBytes > 0, s"OPTIMIZE: TARGET $targetBytes BYTES is invalid")
    val mt = ManifestTarget.of(spark, target, "OPTIMIZE")
    val (before, after) =
      graft.sources.ManifestTable.optimize(mt.dir, targetBytes, zorderBy, whereSql)
    Seq(Row(before, after))
  }
}

/** The lowered COPY INTO: list the source directory, drop already-loaded
  * paths (the `copy.log` sidecar), ingest the rest, and commit data +
  * advanced log in ONE atomic manifest swap —
  * [[graft.sources.ManifestTable.copyInto]]. */
case class CopyIntoCommand(target: String, source: String, format: String,
    pattern: Option[String]) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_copied", LongType, nullable = false)(),
    AttributeReference("rows_copied", LongType, nullable = false)(),
    AttributeReference("files_skipped", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "COPY INTO")
    val (copied, rows, skipped) = graft.sources.ManifestTable.copyInto(
      spark, mt.dir, source, format, pattern)
    spark.catalog.refreshTable(target)
    Seq(Row(copied, rows, skipped))
  }
}

/** The lowered REORG … APPLY (PURGE): one scoped distributed rewrite of the
  * table's deletion-vector-bearing files via
  * [[graft.sources.ManifestTable.reorgPurge]] — live rows re-emit
  * vector-free, every other file keeps its name and layout. Reports
  * (files_purged, files_rewritten); a table with no vectors is a (0, 0)
  * no-op. */
case class ReorgTableCommand(target: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.IntegerType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_purged", IntegerType, nullable = false)(),
    AttributeReference("files_rewritten", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "REORG TABLE")
    val (purged, rewritten) = graft.sources.ManifestTable.reorgPurge(mt.dir)
    Seq(Row(purged, rewritten))
  }
}

/** The lowered RESTORE: publish archived snapshot `version` as the current
  * table state via [[graft.sources.ManifestTable.restore]] — metadata-only,
  * refused loudly if vacuum already reaped any of that snapshot's files.
  * Reports the restored (files, rows). */
case class RestoreTableCommand(target: String, version: Int)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "RESTORE TABLE")
    val (files, rows) = graft.sources.ManifestTable.restore(mt.dir, version)
    Seq(Row(files, rows))
  }
}

/** The time-addressed RESTORE: resolve 'ts' to the NEWEST snapshot
  * committed at or before it ([[graft.sources.Commits.atOrBefore]], as
  * the read-side `TIMESTAMP AS OF`), then run the version-addressed
  * restore. */
case class RestoreTimestampCommand(target: String, ts: String)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("files", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "RESTORE TABLE")
    val cutoff = try java.sql.Timestamp.valueOf(ts).getTime
      catch { case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"RESTORE TABLE: cannot parse timestamp '$ts' " +
            "(expected yyyy-MM-dd HH:mm:ss[.fff])")
      }
    val v = graft.sources.Commits.atOrBefore(mt.dir, cutoff).getOrElse(
      throw new IllegalArgumentException(
        s"RESTORE TABLE: no snapshot of $target committed at or before $ts"))
    val (files, rows) = graft.sources.ManifestTable.restore(mt.dir, v)
    Seq(Row(v, files, rows))
  }
}

/** The lowered branch statements ([[graft.sources.Branch]]): CREATE forks
  * the table's current snapshot as `` t@b ``, FAST FORWARD publishes the
  * branch as main's next version (refused loudly if main diverged), DROP
  * abandons it. Reports (branch, action, version) — version is the fork
  * base on create, the published version on fast-forward, -1 on drop. */
case class BranchCommand(target: String, branch: String, action: String)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.types.IntegerType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("branch", StringType, nullable = false)(),
    AttributeReference("action", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, s"ALTER TABLE ... $action BRANCH")
    import graft.sources.{Branch, Manifest}
    val v = action match {
      case "create" =>
        Branch.create(mt.dir, branch)
        Manifest.snapshotVersions(mt.dir).lastOption.getOrElse(0)
      case "drop" =>
        Branch.drop(mt.dir, branch); -1
      case "fastforward" =>
        Branch.fastForward(mt.dir, branch)
    }
    // the catalog caches loaded tables per identifier inside Spark's own
    // V2 relation cache only per-query; nothing to invalidate here
    Seq(Row(branch, action, v))
  }
}

/** The lowered tag statements ([[graft.sources.Tag]]): CREATE pins a
  * snapshot (current, or `AS OF VERSION n`) as the immutable read-only
  * table `` t@r ``, DROP reaps the ref. Reports (tag, action, version) —
  * the pinned version on create, -1 on drop. */
case class TagCommand(target: String, tag: String, action: String,
    version: Option[Int])
  extends LeafRunnableCommand {
  import org.apache.spark.sql.types.IntegerType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType, nullable = false)(),
    AttributeReference("action", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, s"ALTER TABLE ... $action TAG")
    import graft.sources.Tag
    val v = action match {
      case "create" => Tag.create(mt.dir, tag, version)
      case "drop" => Tag.drop(mt.dir, tag); -1
    }
    Seq(Row(tag, action, v))
  }
}

/** `SHOW TAGS t` — one row per tag ref: name, pinned version, live row
  * count (metadata-only: the count reads the tag's own manifest). */
case class ShowTagsCommand(target: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType, nullable = false)(),
    AttributeReference("pinned_version", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{Manifest, Tag}
    val mt = ManifestTarget.of(spark, target, "SHOW TAGS")
    Tag.list(mt.dir).map { t =>
      val m = Manifest.read(Tag.tagDir(mt.dir, t))
      Row(t,
        m.flatMap(_.props.get(Tag.PinProp)).map(_.toInt).getOrElse(0),
        m.map(_.entries.map(_.liveRows).sum).getOrElse(0L))
    }
  }
}

/** `SHOW BRANCHES t` — one row per outstanding branch ref: name, the main
  * version it forked at, and its current live row count (metadata-only —
  * the count pushes down to the branch manifest). */
case class ShowBranchesCommand(target: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("branch", StringType, nullable = false)(),
    AttributeReference("fork_version", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{Branch, Manifest}
    val mt = ManifestTarget.of(spark, target, "SHOW BRANCHES")
    Branch.list(mt.dir).map { b =>
      val bdir = Branch.branchDir(mt.dir, b)
      val m = Manifest.read(bdir)
      Row(b,
        m.flatMap(_.props.get(Branch.BaseProp)).map(_.toInt).getOrElse(0),
        m.map(_.entries.map(_.liveRows).sum).getOrElse(0L))
    }
  }
}

/** The lowered SHALLOW CLONE: source resolves through the analyzed
  * relation (current manifest, or an archived snapshot under
  * `VERSION AS OF`); the target name resolves to a [[graft.sources
  * .GraftCatalog]] + identifier, which writes the clone's manifest —
  * metadata only, zero data movement. Cloning 100 TB costs one manifest
  * write; the clone then diverges copy-on-write. */
case class CloneTableCommand(target: String, source: String,
    version: Option[Int]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.connector.catalog.Identifier
    val srcDir = ManifestTarget.of(spark, source, "SHALLOW CLONE").dir
    import graft.sources.Manifest
    val m = version match {
      case Some(v) => Manifest.readSnapshot(srcDir, v).getOrElse(
        throw new IllegalArgumentException(
          s"SHALLOW CLONE: no snapshot $v at $srcDir " +
            s"(have: ${Manifest.snapshotVersions(srcDir).mkString(", ")})"))
      case None => Manifest.read(srcDir).getOrElse(
        throw new IllegalStateException(s"SHALLOW CLONE: no manifest at $srcDir"))
    }
    val parts = target.split("\\.").toSeq
    if (parts.length < 3)
      throw new IllegalArgumentException(
        s"SHALLOW CLONE: target $target must be a fully qualified " +
          "catalog.namespace.table name")
    val cat = spark.sessionState.catalogManager.catalog(parts.head) match {
      case g: graft.sources.GraftCatalog => g
      case other => throw new UnsupportedOperationException(
        s"SHALLOW CLONE: catalog ${parts.head} (${other.getClass.getName}) is " +
          "not a graft catalog")
    }
    cat.shallowClone(Identifier.of(parts.tail.init.toArray, parts.last), m, srcDir)
    Seq.empty
  }
}

/** The lowered CREATE MATERIALIZED VIEW: evaluate the query pinned to the
  * source's current snapshot, store the result as a manifest table, record
  * (query, source, snapshot) in its props — see [[MaterializedView]]. */
case class CreateMaterializedViewCommand(target: String, query: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    MaterializedView.create(spark, target, query)
    Seq.empty
  }
}

/** The lowered REFRESH MATERIALIZED VIEW: incremental (merge partials over
  * the files added since the recorded snapshot) when the window is
  * append-only and the query decomposable, else a full recompute — see
  * [[MaterializedView.refresh]]. Reports which path ran. */
case class RefreshMaterializedViewCommand(target: String)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mode", StringType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (mode, rows) = MaterializedView.refresh(spark, target)
    Seq(Row(mode, rows))
  }
}

/** The lowered SET PARTITIONING: parse each transform item, validate the
  * whole list against the table's CURRENT schema with the same rules
  * CREATE TABLE applies, and swap the clustering contract metadata-only
  * ([[graft.sources.Manifest.setPartitioning]]). Old files keep their old
  * clustering (zone maps still prune them); only new writes follow the new
  * layout; a changed bucket count self-invalidates stale purity tags. */
case class AlterPartitioningCommand(target: String, items: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty

  private val TimeT = """(?i)(years|months|days|hours)\(\s*(\w+)\s*\)""".r
  private val BucketT = """(?i)bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
  private val IdentT = """(\w+)""".r

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, Transform => T}
    val transforms: Array[T] = items.map {
      case BucketT(n, c) => Expressions.bucket(n.toInt, c)
      case TimeT(f, c) => f.toLowerCase match {
        case "years" => Expressions.years(c)
        case "months" => Expressions.months(c)
        case "days" => Expressions.days(c)
        case "hours" => Expressions.hours(c)
      }
      case IdentT(c) => Expressions.identity(c)
      case other => throw new IllegalArgumentException(
        s"SET PARTITIONING: cannot parse transform '$other' — identity " +
          "columns, years/months/days/hours(ts) and bucket(n, col) are accepted")
    }.toArray
    val mt = ManifestTarget.of(spark, target, "ALTER TABLE SET PARTITIONING")
    val schema = spark.table(target).schema
    val (partCols, renders) =
      graft.sources.GraftCatalog.validateTransforms(schema, transforms)
    graft.sources.Manifest.setPartitioning(mt.dir, partCols, renders)
    Seq.empty
  }
}

/** `CREATE TEXT INDEX ON t (col)` — build the file-level inverted token
  * index ([[graft.sources.TextIndex.build]]); reports the files and
  * distinct tokens indexed. */
case class CreateTextIndexCommand(target: String, colName: String,
    byPartition: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("n_files", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("n_tokens", org.apache.spark.sql.types.LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "CREATE TEXT INDEX")
    val (nf, nt) =
      graft.sources.TextIndex.build(spark, mt.dir, colName, byPartition)
    Seq(Row(nf, nt))
  }
}

/** `DROP TEXT INDEX ON t (col)` — unpublish the index prop (idempotent);
  * the orphaned `_tokenidx_*` dir is VACUUM-reapable. */
case class DropTextIndexCommand(target: String, colName: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "DROP TEXT INDEX")
    graft.sources.TextIndex.drop(spark, mt.dir, colName)
    Seq.empty
  }
}

/** `CREATE VECTOR INDEX ON t (col) ANCHORS (idCol) [LISTS k] [SAMPLE n]`
  * — train + publish the file-level IVF index
  * ([[graft.sources.VectorIndex.build]]); LISTS overrides the
  * corpus-derived cluster-count policy (smaller cells for
  * dedup-dominated deployments, fewer lists for recall-per-probe);
  * SAMPLE trains the quantizer on a deterministic ~n-row subset and
  * assigns the full corpus once (bounded training cost at any corpus
  * size). Reports the files indexed and clusters trained. */
case class CreateVectorIndexCommand(target: String, colName: String,
    idCol: String, lists: Option[Long] = None,
    sample: Option[Long] = None, coarse: Int = 2,
    byPartition: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("n_files", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("n_clusters", org.apache.spark.sql.types.LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "CREATE VECTOR INDEX")
    val (nf, nc) = graft.sources.VectorIndex.build(spark, mt.dir, colName,
      idCol, lists, sample, coarse, byPartition)
    Seq(Row(nf, nc))
  }
}

/** `DROP VECTOR INDEX ON t (col)` — unpublish (idempotent); the orphaned
  * `_vecidx_*` dir is VACUUM-reapable. */
case class DropVectorIndexCommand(target: String, colName: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "DROP VECTOR INDEX")
    graft.sources.VectorIndex.drop(spark, mt.dir, colName)
    Seq.empty
  }
}

/** `REFRESH TEXT|VECTOR INDEX ON t (col)` — delegate to the index tier's
  * incremental refresh; reports the newly-indexed file count and whether
  * rewritten/deleted files' postings were dropped (a remap, vs a pure
  * append extension). */
case class RefreshIndexCommand(kind: String, target: String, colName: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("n_new_files", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("remapped", org.apache.spark.sql.types.BooleanType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, s"REFRESH ${kind.toUpperCase} INDEX")
    val (n, full) = kind match {
      case "text" => graft.sources.TextIndex.refresh(spark, mt.dir, colName)
      case _ => graft.sources.VectorIndex.refresh(spark, mt.dir, colName)
    }
    Seq(Row(n, full))
  }
}

/** Driver-side replacement for the serve commands' final
  * `orderBy(keys).collect()` (r17, guide §2.4): the rows materialize to
  * the driver EITHER WAY (a RunnableCommand returns Seq[Row]), so the
  * distributed sort only added a rangepartitioning SAMPLE job and a sort
  * exchange per statement execution. Every serve's keys form a TOTAL
  * order (the trailing id/rank column is unique) over non-null
  * fixed-point values, so `java.lang.{Long,Integer,Double}.compare`
  * reproduces Spark's sort exactly (fixed-point arithmetic can produce
  * neither NaN nor -0.0, the two places the orderings could diverge). */
private[plans] object SortedCollect {
  def apply(df: DataFrame, keys: (String, Boolean)*): Seq[Row] = {
    val sch = df.schema
    val ks = keys.map { case (n, asc) =>
      (sch.fieldIndex(n), asc, sch(n).dataType) }
    val ord = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        ks.foreach { case (i, asc, dt) =>
          val c = dt match {
            case LongType => java.lang.Long.compare(a.getLong(i), b.getLong(i))
            case IntegerType => Integer.compare(a.getInt(i), b.getInt(i))
            case DoubleType =>
              java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
            case other => throw new IllegalStateException(
              s"SortedCollect: unsupported sort key type $other")
          }
          if (c != 0) return if (asc) c else -c
        }
        0
      }
    }
    df.collect().toSeq.sorted(ord)
  }
}

/** An index-serve statement, parsed: VECTOR SEARCH, VECTOR KNN JOIN,
  * BM25 SEARCH, BM25 JOIN, SEMANTIC DEDUP or MINHASH DEDUP. Each
  * statement is described once: its companion object (a [[Serve.Syntax]])
  * holds the keyword, the clause grammar and the help text a refusal
  * quotes; the case class holds the parsed clauses, the normalized output
  * schema, the order keys and the DataFrame builder — the frame the index
  * tier's serve pipeline builds for the statement's Scala twin
  * ([[graft.sources.VectorIndex.serve]], [[graft.sources.TextIndex.serve]]).
  * The parser runs every step off [[Serve.syntaxes]]: a standalone
  * statement becomes one [[ServeCommand]]; a parenthesized group inside a
  * larger statement is built at parse time and substituted as a temp view;
  * `EXPLAIN <stmt>` re-feeds the statement as that relation.
  *
  * The statements are EXPLICIT rather than transparent rewrites of an
  * `ORDER BY dot(…) LIMIT k` or a BM25 expression on purpose: IVF is
  * approximate (it ranks the probed lists, not the corpus) and ranking
  * statistics come from the index, and an optimizer rule must never
  * silently trade exactness or substitute statistics. Spark's grammar has
  * none of these forms, so they never shadow delegate syntax. */
private[plans] sealed trait Serve {
  /** The output columns (nullable): the ids cast to BIGINT, ranks to
    * INT, scores to DOUBLE — one schema at every surface. */
  def schema: Seq[(String, DataType)]
  /** The total order the standalone statement returns its rows in:
    * (column, ascending). */
  def order: Seq[(String, Boolean)]
  /** The index tier's serve frame, holding the [[schema]] columns. */
  protected def frame(spark: SparkSession): DataFrame
  final def df(spark: SparkSession): DataFrame =
    frame(spark).select(schema.map { case (n, t) => col(n).cast(t) }: _*)
}

private[plans] object Serve {
  type Build = PartialFunction[List[String], Serve]

  /** One serve statement's grammar: `<keyword> ON <table> (<col>)`, then
    * `clauses`, then an optional `;`. A statement that takes a subquery
    * ends `clauses` at the opening paren of `USING (`; the subquery is the
    * balanced quote-aware group ([[balancedCloseFrom]] — nested parens and
    * quoted text inside it are its own), and `tail` must match what
    * follows it. `build` receives the groups in order — table, column, the
    * clause groups, the USING text, the tail groups; null for an absent
    * optional clause — and refuses (by not matching) a free-text clause
    * whose single quotes do not balance: a quoted literal could hide a
    * keyword from the regex. */
  sealed abstract class Syntax(val keyword: String, clauses: String,
      tail: Option[String], val help: String) {
    protected def build: Build

    private[plans] val keywordPattern = keyword.replace(" ", """\s+""")
    private val head = ("""(?is)\s*""" + keywordPattern +
      """\s+ON\s+((?:[\w.]+|`[^`]+`)+)\s*\(\s*(\w+)\s*\)""" + clauses +
      (if (tail.isEmpty) End else "")).r
    private val tailRe = tail.map(t => ("(?is)" + t + End).r)

    def parse(sql: String): Option[Serve] = (tailRe match {
      case None => head.unapplySeq(sql)
      case Some(t) => for {
        m <- head.findPrefixMatchOf(sql)
        close <- balancedCloseFrom(sql, m.end - 1)
        rest <- t.unapplySeq(sql.substring(close + 1))
      } yield m.subgroups ++ (sql.substring(m.end, close) :: rest)
    }).collect(build)
  }
  private final val End = """\s*;?\s*"""
  /** The tail of both dedup statements. */
  final val DedupTail = """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?(?:\s+WHERE\s+(.+?))?"""

  lazy val syntaxes: Seq[Syntax] = Seq(VectorSearch, VectorKnnJoin,
    Bm25Search, Bm25Join, SemanticDedup, MinhashDedup)

  /** The keywords as one regex alternation. */
  lazy val keywords: String = syntaxes.map(_.keywordPattern).mkString("|")
  private lazy val Open = ("""(?i)\(\s*(?:""" + keywords + """)\s+ON""").r

  def unapply(sql: String): Option[Serve] =
    syntaxes.iterator.flatMap(_.parse(sql)).nextOption()

  /** The first `(` opening a serve statement OUTSIDE quoted text — `'…'`
    * and `"…"` literals, `` `…` `` identifiers (a doubled quote re-toggles)
    * — with its balanced close. Text that merely spells a statement,
    * `SELECT "(VECTOR SEARCH ON x)"`, parses as the literal it is. */
  def group(sql: String): Option[(Int, Int)] = {
    val starts = Open.findAllMatchIn(sql).map(_.start).toSet
    if (starts.isEmpty) return None
    var i = 0
    var quote: Char = 0
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"' || ch == '`') quote = ch
      else if (starts(i)) return balancedCloseFrom(sql, i).map(i -> _)
      i += 1
    }
    None
  }

  /** The balanced close of the paren group OPENING at `open`. Parens
    * inside single-quoted literals, double-quoted strings and backquoted
    * identifiers don't count: a ')' inside `'a)b'`, `"a)b"` or `` `a)b` ``
    * must not unbalance the scan (a doubled `''` re-toggles). */
  def balancedCloseFrom(sql: String, open: Int): Option[Int] = {
    var i = open
    var depth = 0
    var quote: Char = 0
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"' || ch == '`') quote = ch
      else if (ch == '(') depth += 1
      else if (ch == ')') { depth -= 1; if (depth == 0) return Some(i) }
      i += 1
    }
    None
  }

  /** The quote-parity guard over free-text clauses (null = absent). */
  def balanced(texts: String*): Boolean =
    texts.forall(t => t == null || t.count(_ == '\'') % 2 == 0)

  def int(s: String): Option[Int] = Option(s).map(_.toInt)
}

/** A standalone serve statement: an eager command that builds the
  * statement's DataFrame and returns its rows in the declared order. */
private[plans] case class ServeCommand(serve: Serve) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = serve.schema.map { case (n, t) =>
    AttributeReference(n, t, nullable = true)() }
  override def run(spark: SparkSession): Seq[Row] =
    SortedCollect(serve.df(spark), serve.order: _*)
}

/** `VECTOR SEARCH ON t (col) PROBE (f, …) TOP k [VERSION AS OF v]
  * [PROBES p] [RERANK r USING PQ] [WHERE pred]` — ANN over the published
  * IVF index ([[graft.sources.VectorIndex.searchWhere]]): exact IVF over
  * the probe's p nearest stored clusters, file pruning via the posting
  * list, the predicate (compiled against the table's own columns)
  * narrowing CANDIDATES before the top-k. `RERANK r USING PQ` routes
  * through the compression tier ([[graft.sources.VectorIndex.searchPq]]):
  * ADC pre-rank over the stored codes, exact rerank of the top-r
  * survivors, the predicate semi-joining the codes BEFORE the cutoff.
  * Output: the anchor id (cast BIGINT), the matched cluster and the exact
  * fixed-point dot, ranked (sim DESC, vec_id). */
private[plans] final case class VectorSearch(target: String, colName: String,
    probeList: String, topK: Int, probes: Int, rerank: Option[Int],
    where: Option[String], version: Option[Int]) extends Serve {
  def schema = Seq[(String, DataType)](
    "vec_id" -> LongType, "list_id" -> IntegerType, "sim" -> DoubleType)
  def order = Seq("sim" -> false, "vec_id" -> true)
  protected def frame(spark: SparkSession): DataFrame = {
    val probe = probeList.split(",").map { s =>
      try s.trim.toFloat catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"VECTOR SEARCH: PROBE component '${s.trim}' is not a float " +
            "literal — PROBE takes a comma-separated float vector")
      }
    }
    import org.apache.spark.sql.functions.expr
    import graft.sources.VectorIndex
    VectorIndex.serve(spark, target, colName,
        VectorIndex.Probe(probe, topK, probes), rerank, where.map(expr),
        version)
  }
}

private[plans] object VectorSearch extends Serve.Syntax("VECTOR SEARCH",
    """\s+PROBE\s*\(([^)]+)\)\s+TOP\s+(\d+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+PROBES\s+(\d+))?(?:\s+RERANK\s+(\d+)\s+USING\s+PQ)?""" +
      """(?:\s+WHERE\s+(.+?))?""", None,
    "VECTOR SEARCH ON <table> (<col>) PROBE (f, f, …) TOP <k> " +
      "[VERSION AS OF <v>] [PROBES <p>] [RERANK <r> USING PQ] " +
      "[WHERE <pred>] — clauses in this order; WHERE quotes must " +
      "balance; all clauses compose with VERSION AS OF") {
  protected def build: Serve.Build = {
    case List(t, c, probe, k, v, probes, r, w) if Serve.balanced(w) =>
      VectorSearch(t, c, probe, k.toInt, Option(probes).fold(1)(_.toInt),
        Serve.int(r), Option(w), Serve.int(v))
  }
}

/** `VECTOR KNN JOIN ON t (col) USING (<query>) TOP k [VERSION AS OF v]
  * [RERANK r USING PQ] [WHERE pred]` — the batch ANN join
  * ([[graft.sources.VectorIndex.knnJoin]]; PQ: `knnJoinPq`): for each
  * row of the USING query (any relation yielding the table's id +
  * embedding columns; it parses through `spark.sql`, so nested serve
  * groups rewrite like any statement's), its k nearest corpus rows off
  * the stored geometry. Output (vec_id BIGINT = the batch row's id,
  * rank INT, nn_id BIGINT, sim DOUBLE), ordered (vec_id, rank). */
private[plans] final case class VectorKnnJoin(target: String,
    colName: String, batchSql: String, topK: Int, rerank: Option[Int],
    where: Option[String], version: Option[Int]) extends Serve {
  def schema = Seq[(String, DataType)]("vec_id" -> LongType,
    "rank" -> IntegerType, "nn_id" -> LongType, "sim" -> DoubleType)
  def order = Seq("vec_id" -> true, "rank" -> true)
  protected def frame(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import graft.sources.VectorIndex
    VectorIndex.serve(spark, target, colName,
        VectorIndex.Batch(spark.sql(batchSql), topK), rerank,
        where.map(expr), version)
  }
}

private[plans] object VectorKnnJoin extends Serve.Syntax("VECTOR KNN JOIN",
    """\s+USING\s*\(""",
    Some("""\s*TOP\s+(\d+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+RERANK\s+(\d+)\s+USING\s+PQ)?(?:\s+WHERE\s+(.+?))?"""),
    "VECTOR KNN JOIN ON <table> (<col>) USING (<query>) TOP <k> " +
      "[VERSION AS OF <v>] [RERANK <r> USING PQ] [WHERE <pred>] — the " +
      "USING subquery yields the table's id + embedding columns; " +
      "clauses in this order; all clauses compose with VERSION AS OF") {
  protected def build: Serve.Build = {
    case List(t, c, batch, k, v, r, w) if Serve.balanced(w) =>
      VectorKnnJoin(t, c, batch, k.toInt, Serve.int(r), Option(w),
        Serve.int(v))
  }
}

/** `BM25 SEARCH ON t (col) ID (idCol) TERMS ('a', …) TOP k
  * [VERSION AS OF v] [WHERE scope]` — index-accelerated BM25
  * ([[graft.sources.TextIndex.bm25TopK]]): df per term and the corpus
  * statistics come from the token index; a WHERE scope routes through the
  * per-domain statistics tier (`bm25TopKScoped` — df/N/avgdl over the
  * scoped sub-corpus, the snapshot's under VERSION AS OF). Output
  * (<idCol> cast BIGINT, n_terms BIGINT, score DOUBLE), ranked
  * (score DESC, id). */
private[plans] final case class Bm25Search(target: String, colName: String,
    idCol: String, termsList: String, topK: Int, where: Option[String],
    version: Option[Int]) extends Serve {
  def schema = Seq[(String, DataType)](
    idCol -> LongType, "n_terms" -> LongType, "score" -> DoubleType)
  def order = Seq("score" -> false, idCol -> true)
  protected def frame(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import graft.sources.TextIndex
    val terms = MergeParse.splitTop(termsList, ',').map(_.trim).map { t =>
      if (t.length >= 2 && t.head == '\'' && t.last == '\'')
        t.substring(1, t.length - 1).replace("''", "'")
      else throw new IllegalArgumentException(
        s"BM25 SEARCH: TERMS component $t is not a single-quoted string " +
          "literal")
    }
    TextIndex.serve(spark, target, colName,
        TextIndex.TopK(idCol, terms, topK, where.map(expr)), version)
  }
}

private[plans] object Bm25Search extends Serve.Syntax("BM25 SEARCH",
    """\s+ID\s*\(\s*(\w+)\s*\)\s+TERMS\s*\(([^)]+)\)""" +
      """\s+TOP\s+(\d+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+WHERE\s+(.+?))?""", None,
    "BM25 SEARCH ON <table> (<col>) ID (<idCol>) TERMS ('a', 'b', …) " +
      "TOP <k> [VERSION AS OF <v>] [WHERE <scope>] — clauses in this " +
      "order; TERMS takes single-quoted string literals, quotes must " +
      "balance; VERSION AS OF serves the snapshot's own statistics " +
      "(no WHERE)") {
  protected def build: Serve.Build = {
    case List(t, c, id, terms, k, v, w) if Serve.balanced(terms, w) =>
      Bm25Search(t, c, id, terms, k.toInt, Option(w), Serve.int(v))
  }
}

/** `BM25 JOIN ON t (col) ID (idCol) USING (<query>) TOP k
  * [VERSION AS OF v]` — the batch BM25 retrieval join
  * ([[graft.sources.TextIndex.bm25Join]]): for each row of the USING
  * query (the table's id + text columns — the query-log shape), its k
  * best-ranked corpus rows off the stored statistics, one dataflow for
  * the whole batch; on a BY PARTITION index the query also carries the
  * partition column and ranks within its slice. Output (qid BIGINT = the
  * batch row's id, rank INT, <idCol> BIGINT, n_terms BIGINT,
  * score DOUBLE), ordered (qid, rank). */
private[plans] final case class Bm25Join(target: String, colName: String,
    idCol: String, batchSql: String, topK: Int, version: Option[Int])
  extends Serve {
  def schema = Seq[(String, DataType)]("qid" -> LongType,
    "rank" -> IntegerType, idCol -> LongType, "n_terms" -> LongType,
    "score" -> DoubleType)
  def order = Seq("qid" -> true, "rank" -> true)
  protected def frame(spark: SparkSession): DataFrame = {
    import graft.sources.TextIndex
    TextIndex.serve(spark, target, colName, TextIndex.Join(idCol,
        spark.sql(batchSql), idCol, colName, topK), version)
  }
}

private[plans] object Bm25Join extends Serve.Syntax("BM25 JOIN",
    """\s+ID\s*\(\s*(\w+)\s*\)\s+USING\s*\(""",
    Some("""\s*TOP\s+(\d+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"""),
    "BM25 JOIN ON <table> (<col>) ID (<idCol>) USING (<query>) " +
      "TOP <k> [VERSION AS OF <v>] — the USING subquery yields the " +
      "table's id + text columns (the query log shape); one dataflow " +
      "ranks every query's top-k; VERSION AS OF serves the snapshot's " +
      "own statistics, postings and rows") {
  protected def build: Serve.Build = {
    case List(t, c, id, batch, k, v) =>
      Bm25Join(t, c, id, batch, k.toInt, Serve.int(v))
  }
}

/** `SEMANTIC DEDUP ON t (col) USING (<query>) [VERSION AS OF v]
  * [WHERE pred]` — the index-backed incremental SemDeDup
  * ([[graft.sources.VectorIndex.semDedupIncremental]]): each USING row
  * assigns against the STORED centroids, hashes against the STORED anchor
  * panel and joins the STORED corpus band sidecar; only candidate-bucket
  * files fetch corpus embeddings. WHERE filters the batch rows BEFORE
  * routing (verdicts are batch-row-independent, so the filter commutes
  * with the dedup); VERSION AS OF deduplicates against the corpus as it
  * was — the snapshot's own sidecars witness. Output (vec_id BIGINT,
  * dup_of BIGINT = the min-id corpus witness or NULL, is_dup BOOLEAN),
  * ordered by vec_id. */
private[plans] final case class SemanticDedup(target: String,
    colName: String, batchSql: String, where: Option[String],
    version: Option[Int]) extends Serve {
  def schema = Seq[(String, DataType)](
    "vec_id" -> LongType, "dup_of" -> LongType, "is_dup" -> BooleanType)
  def order = Seq("vec_id" -> true)
  protected def frame(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val batch0 = spark.sql(batchSql)
    val batch = where.fold(batch0)(w => batch0.where(expr(w)))
    version match {
      case Some(v) => graft.sources.VectorIndex
        .semDedupIncrementalAsOf(spark, target, colName, batch, v)
      case None => graft.sources.VectorIndex
        .semDedupIncremental(spark, target, colName, batch)
    }
  }
}

private[plans] object SemanticDedup extends Serve.Syntax("SEMANTIC DEDUP",
    """\s+USING\s*\(""", Some(Serve.DedupTail),
    "SEMANTIC DEDUP ON <table> (<col>) USING (<query>) " +
      "[VERSION AS OF <v>] [WHERE <pred>] — the USING subquery yields " +
      "the table's id + embedding columns (and the partition column " +
      "for a BY PARTITION index); VERSION AS OF deduplicates against " +
      "the snapshot's own corpus; WHERE filters the batch rows before " +
      "routing; quotes must balance") {
  protected def build: Serve.Build = {
    case List(t, c, batch, v, w) if Serve.balanced(w) =>
      SemanticDedup(t, c, batch, Option(w), Serve.int(v))
  }
}

/** `MINHASH DEDUP ON t (col) ID (idCol) USING (<query>)
  * [VERSION AS OF v] [WHERE pred]` — the index-backed incremental MinHash
  * dedup ([[graft.sources.TextIndex.dedupIncremental]]): each USING row
  * shingles and bands per row and joins the STORED corpus signature
  * sidecar with the exact Jaccard fused inline; corpus text is never
  * re-read. Same clause conventions as SEMANTIC DEDUP. Output
  * (<idCol> BIGINT, dup_of BIGINT, is_dup BOOLEAN), ordered by id. */
private[plans] final case class MinhashDedup(target: String,
    colName: String, idCol: String, batchSql: String,
    where: Option[String], version: Option[Int]) extends Serve {
  def schema = Seq[(String, DataType)](
    idCol -> LongType, "dup_of" -> LongType, "is_dup" -> BooleanType)
  def order = Seq(idCol -> true)
  protected def frame(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import graft.sources.TextIndex
    val batch0 = spark.sql(batchSql)
    val batch = where.fold(batch0)(w => batch0.where(expr(w)))
    // the serve path normalizes the id to `doc_id` internally —
    // surface it under the statement's declared ID column name
    TextIndex.serve(spark, target, colName, TextIndex.MinHash(idCol, batch),
        version).withColumnRenamed("doc_id", idCol)
  }
}

private[plans] object MinhashDedup extends Serve.Syntax("MINHASH DEDUP",
    """\s+ID\s*\(\s*(\w+)\s*\)\s+USING\s*\(""", Some(Serve.DedupTail),
    "MINHASH DEDUP ON <table> (<col>) ID (<idCol>) USING (<query>) " +
      "[VERSION AS OF <v>] [WHERE <pred>] — the USING subquery yields " +
      "the id + text columns; VERSION AS OF deduplicates against the " +
      "snapshot's own corpus; WHERE filters the batch rows before " +
      "routing; quotes must balance") {
  protected def build: Serve.Build = {
    case List(t, c, id, batch, v, w) if Serve.balanced(w) =>
      MinhashDedup(t, c, id, batch, Option(w), Serve.int(v))
  }
}

/** Shared target resolution for the lowered DML/metadata statements: the
  * named table must analyze to a graft [[graft.sources.ManifestTable]]
  * relation — only that table carries the atomic snapshot machinery the
  * commands rely on. Anything else gets the operation's name in a clear
  * error instead of a silent wrong lowering. */
private[plans] object ManifestTarget {
  def of(spark: SparkSession, target: String, op: String): graft.sources.ManifestTable =
    graft.sources.ManifestTable.find(spark, target).getOrElse(
      throw new UnsupportedOperationException(
        s"$op: $target is not a graft manifest table — this engine lowers " +
          s"$op only for its own catalog tables"))
}

/** The name-addressed VACUUM: resolve the catalog table to its manifest
  * directory (with the same only-a-manifest-table guard every lowered
  * statement uses), then run the path-form command's logic verbatim. */
case class VacuumTableCommand(target: String, retainSnapshots: Option[Int],
    stagingOlderThanMinutes: Option[Long] = None, dryRun: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("file", StringType, nullable = false)(),
    AttributeReference("reason", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, target, "VACUUM")
    VacuumManifestCommand(mt.dir.toString, retainSnapshots,
      stagingOlderThanMinutes, dryRun).run(spark)
  }
}

/** Driver-side maintenance. Safe by construction:
  *  - a file under `_staging/` is uncommitted (commit MOVES files out of
  *    staging before the manifest swap) — but an IN-FLIGHT write job's
  *    staged files look identical to crash leftovers, so vacuum only reaps
  *    staged files whose mtime is older than
  *    `spark.graft.vacuum.stagingMinAgeMs` (default 10 minutes). Reaping a
  *    live attempt's staged file would make the concurrent job's
  *    `ManifestBatchWrite.commit` fail on the promote move; the age
  *    threshold keeps vacuum out of the single-writer contract.
  *  - `RETAIN n SNAPSHOTS` (n ≥ 1, parser-enforced) first expires all but
  *    the newest n archived manifest versions;
  *  - a `part-*` data file referenced by NO surviving manifest version is
  *    unreachable (including via time travel) — reaped, but only past the
  *    SAME age threshold: `ManifestBatchWrite.commit` promotes files out
  *    of staging BEFORE the manifest swap, so a freshly-promoted file is
  *    momentarily unreachable and must survive a concurrent vacuum. */
case class VacuumManifestCommand(dir: String, retainSnapshots: Option[Int],
    stagingOlderThanMinutes: Option[Long] = None, dryRun: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("file", StringType, nullable = false)(),
    AttributeReference("reason", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    import graft.sources.Manifest
    // DRY RUN: report every file the same pass WOULD reap, delete nothing
    // (the would-expire snapshots are excluded from the reachability roots
    // below, so the reported orphan set matches the real run's exactly)
    val expireSet = retainSnapshots.toSeq.flatMap(keep =>
      Manifest.snapshotVersions(root).dropRight(keep)).toSet
    val expired = expireSet.toSeq.sorted.map { v => // keep ≥ 1, parser-enforced
      if (!dryRun) Files.deleteIfExists(root.resolve(s"_manifest.v$v"))
      Row(s"_manifest.v$v", "snapshot-expired")
    }
    // branch refs PIN: a branch lives INSIDE the table directory, so —
    // unlike cross-directory clones, which pin nothing by design — its
    // references are discoverable and MUST count as reachable, or a deep
    // vacuum on main would corrupt every outstanding branch. Only each
    // branch's CURRENT state pins (branch snapshots are working history,
    // spent on publish).
    val branchManifests = graft.sources.Branch.list(root)
      .flatMap(b => Manifest.read(graft.sources.Branch.branchDir(root, b)))
    // tag refs pin too: an immutable tag must outlive snapshot expiry —
    // its own manifest copy is the reachability root until DROP TAG
    val tagManifests = graft.sources.Tag.list(root)
      .flatMap(t => Manifest.read(graft.sources.Tag.tagDir(root, t)))
    val manifests = Manifest.read(root).toSeq ++
      Manifest.snapshotVersions(root).filterNot(expireSet)
        .flatMap(Manifest.readSnapshot(root, _)) ++
      branchManifests ++ tagManifests
    val reachable: Set[String] =
      manifests.flatMap(m =>
        m.files.map(_._1) ++ m.entries.flatMap(_.dv.map(_._1)) ++
          m.entries.flatMap(_.blobsFile) ++ m.segments.map(_._1) ++
          m.props.get(graft.sources.Manifest.CopyLogProp)).toSet
    def listed[T](d: Path)(f: Iterator[Path] => T): T = {
      val s = Files.list(d)
      try f(s.iterator().asScala) finally s.close()
    }
    // precedence: explicit OLDER THAN clause > session conf > 10-min default
    val minAgeMs = stagingOlderThanMinutes.map(_ * 60 * 1000)
      .orElse(spark.conf.getOption("spark.graft.vacuum.stagingMinAgeMs").map(_.toLong))
      .getOrElse(10L * 60 * 1000)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val staging = root.resolve("_staging")
    val staged =
      if (Files.isDirectory(staging))
        listed(staging)(_.toSeq)
          .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
          .map { p =>
            if (!dryRun) Files.deleteIfExists(p)
            Row(s"_staging/${p.getFileName}", "staged-uncommitted")
          }
      else Seq.empty
    // the same age guard applies to root-level orphans: commit() PROMOTES
    // files out of staging BEFORE the manifest swap, so a freshly-promoted
    // file is momentarily unreachable — reaping it would break the commit
    // that is about to reference it
    val orphans = listed(root)(_.toSeq)
      .filter(p => Files.isRegularFile(p))
      .filter { p => val n = p.getFileName.toString
        n.startsWith("part-") || n.startsWith("dv-") ||
          n.startsWith("blobs-") || n.startsWith("seg-") ||
          n.startsWith("copylog-") }
      .filterNot(p => reachable(p.getFileName.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
      .map { p =>
        if (!dryRun) Files.deleteIfExists(p)
        Row(p.getFileName.toString, "unreachable")
      }
    // a `_cdc_*` dir is reachable iff some SURVIVING snapshot's (or open
    // branch's) cdcDir prop names it — expired-snapshot and torn-commit
    // CDC dirs reap whole, behind the same age guard (a DML may have
    // written its CDC rows and not yet swapped its manifest in)
    val cdcReachable: Set[String] =
      manifests.flatMap(graft.sources.Commits.cdcDirOf).toSet
    val cdcOrphans = listed(root)(_.toSeq)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("_cdc_"))
      .filterNot(p => cdcReachable(p.getFileName.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
      .map { p =>
        if (!dryRun) {
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally walk.close()
        }
        Row(p.getFileName.toString, "cdc-unreachable")
      }
    // a `_tokenidx_*` / `_vecidx_*` dir is reachable iff some surviving
    // manifest's `tokenidx.<col>` / `vecidx.<col>` prop names it —
    // dropped/superseded secondary indexes reap whole, behind the same
    // age guard (a build may have written its parquet and not yet swapped
    // its props commit in)
    val idxReachable: Set[String] = manifests.flatMap(_.props.collect {
      case (k, v) if k.startsWith("tokenidx.") || k.startsWith("vecidx.") =>
        v.split(";")(0)
    }).toSet
    val idxOrphans = listed(root)(_.toSeq)
      .filter(p => Files.isDirectory(p) && {
        val n = p.getFileName.toString
        n.startsWith("_tokenidx_") || n.startsWith("_vecidx_")
      })
      .filterNot(p => idxReachable(p.getFileName.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
      .map { p =>
        if (!dryRun) {
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally walk.close()
        }
        Row(p.getFileName.toString, "tokenidx-unreachable")
      }
    expired ++ staged ++ orphans ++ cdcOrphans ++ idxOrphans
  }
}
