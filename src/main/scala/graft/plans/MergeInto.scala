package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** The `MERGE INTO` lowering for manifest catalog tables — the full
  * ANSI/Delta clause surface, whole-row star actions included:
  *
  * {{{
  * MERGE INTO t [AS a] USING s [AS b] ON <equi-conjunction>
  *   [WHEN MATCHED [AND cond] THEN UPDATE SET c = expr, … | UPDATE SET * | DELETE]…
  *   [WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT (cols) VALUES (exprs) | INSERT *]…
  *   [WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … | DELETE]…
  * }}}
  *
  * Lowering: ONE full-outer join of target and source on the ON keys (an
  * equi-conjunction, so Catalyst plans a hash join — one shuffle per side,
  * broadcast when the source is small), then a single projection that
  * routes every row through the FIRST applying clause of its group
  * (matched / not-matched / not-matched-by-source, in statement order —
  * the ANSI rule), evaluated with both sides in scope under their aliases.
  * The result commits through the sink's row-level pipeline
  * ([[graft.sources.ManifestTable.rowLevel]]); the self-referencing write
  * is safe on a manifest table because the scan plans from the pre-swap
  * manifest, staged files get unique names, and the commit swap never
  * deletes files the scan is reading.
  *
  * Semantics pinned here (and certified by `q_merge_conditional`):
  *  - clause conditions see `t.*` and `s.*` (NULL side for non-matches);
  *  - a matched row with no applying clause KEEPS the target row; a
  *    source-only row with no applying clause drops (no insert); a
  *    target-only row with no applying NOT-MATCHED-BY-SOURCE clause keeps;
  *  - `INSERT (cols) VALUES (exprs)` NULL-fills unmentioned target columns
  *    (the Delta rule); every assignment casts to the declared column type
  *    so the table schema never drifts;
  *  - a target row matched by MORE THAN ONE source row is rejected up
  *    front (the ANSI cardinality violation — the join formulation would
  *    otherwise duplicate the kept target row even in insert-only merges).
  *
  * Anything this lowering cannot express — non-equi ON, unknown alias
  * qualifiers, malformed clause bodies — falls through to Spark's parser
  * VERBATIM and fails with Spark's own row-level-ops error rather than
  * silently computing something else.
  *
  * At 100 TB: without NOT-MATCHED-BY-SOURCE clauses the rewrite is
  * FILE-BOUNDED (the Delta merge algorithm) — a semi-join over the
  * `_file` metadata column finds the files holding matched keys, only
  * those files join the source and rewrite (inserts surface in the same
  * join), and the swap replaces exactly them; an insert-only MERGE is a
  * pure append. With NOT-MATCHED-BY-SOURCE every unmatched target row is
  * in scope, so the rewrite is inherently whole-table. The join itself shuffles each side once — the
  * unavoidable MERGE cost; broadcast when the source is small.
  */
object MergeParse {

  sealed trait Action
  case object UpdateStar extends Action
  final case class UpdateSet(sets: Seq[(String, String)]) extends Action
  case object Delete extends Action
  case object InsertStar extends Action
  final case class Insert(cols: Seq[String], vals: Seq[String]) extends Action

  sealed trait Group
  case object Matched extends Group
  case object NotMatched extends Group
  case object NotMatchedBySource extends Group

  final case class Clause(group: Group, cond: Option[String], action: Action)

  /** Parsed statement: aliases default to the table names' last part.
    * `sourceQuery` carries a `USING (subquery)` source's SQL text — the
    * command evaluates it instead of resolving `source` as a table. */
  final case class Spec(target: String, tAlias: String, source: String,
      sAlias: String, keyPairs: Seq[(String, String)], clauses: Seq[Clause],
      sourceQuery: Option[String] = None)

  private val Head =
    ("""(?is)\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z]\w*))?""" +
      """\s+USING\s+([\w.]+)(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z]\w*))?\s+ON\s+(.+?)\s*;?\s*""").r
  private val Eq = """(?s)\s*([\w.]+)\s*=\s*([\w.]+)\s*""".r
  private val MatchedCl = """(?is)\s*MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+(.+?)\s*""".r
  private val NmbsCl =
    """(?is)\s*NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?\s+THEN\s+(.+?)\s*""".r
  private val NotMatchedCl =
    """(?is)\s*NOT\s+MATCHED(?:\s+BY\s+TARGET)?(?:\s+AND\s+(.+?))?\s+THEN\s+(.+?)\s*""".r
  private val UpdateStarA = """(?is)\s*UPDATE\s+SET\s+\*\s*""".r
  private val UpdateSetA = """(?is)\s*UPDATE\s+SET\s+(.+?)\s*""".r
  private val DeleteA = """(?is)\s*DELETE\s*""".r
  private val InsertStarA = """(?is)\s*INSERT\s+\*\s*""".r
  private val InsertA = """(?is)\s*INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*""".r
  private val Assign = """(?s)\s*([\w.]+)\s*=\s*(.+?)\s*""".r

  /** Split `s` at every depth-0, outside-quotes occurrence of the keyword
    * `WHEN` (word-bounded, case-insensitive). Returns the prefix before
    * the first WHEN and each WHEN-clause body. */
  private def splitOnWhen(s: String): (String, Seq[String]) = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quoted = false
    var i = 0
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val ch = s.charAt(i)
      if (quoted) { cur += ch; if (ch == '\'') quoted = false; i += 1 }
      else if (ch == '\'') { quoted = true; cur += ch; i += 1 }
      else if (ch == '(') { depth += 1; cur += ch; i += 1 }
      else if (ch == ')') { depth -= 1; cur += ch; i += 1 }
      else if (depth == 0 && (ch == 'W' || ch == 'w') && i + 4 <= s.length &&
        s.substring(i, i + 4).equalsIgnoreCase("WHEN") &&
        (i == 0 || !isWordChar(s.charAt(i - 1))) &&
        (i + 4 == s.length || !isWordChar(s.charAt(i + 4)))) {
        parts += cur.toString; cur.clear(); i += 4
      } else { cur += ch; i += 1 }
    }
    parts += cur.toString
    val all = parts.result()
    (all.head, all.tail)
  }

  /** Split on `sep` at paren depth 0 outside single-quoted literals. */
  private[plans] def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quoted = false
    s.foreach { ch =>
      if (quoted) { cur += ch; if (ch == '\'') quoted = false }
      else ch match {
        case '\'' => quoted = true; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case c if c == sep && depth == 0 => out += cur.toString; cur.clear()
        case c => cur += c
      }
    }
    out += cur.toString
    out.result()
  }

  /** Strip a `[alias.]name` reference into (aliasOpt, name); None for
    * multi-part qualifiers this lowering does not address. */
  private def ref(x: String): Option[(Option[String], String)] =
    x.split("\\.").toSeq match {
      case Seq(n) => Some((None, n))
      case Seq(a, n) => Some((Some(a), n))
      case _ => None
    }

  /** Classify one ON equality into a (targetCol, sourceCol) pair. */
  private def keyPair(l: String, r: String, tA: String, sA: String)
    : Option[(String, String)] = {
    def sideOf(x: String): Option[(Option[String], String)] = ref(x)
    (sideOf(l), sideOf(r)) match {
      case (Some((Some(a), ln)), Some((Some(b), rn))) =>
        if (a.equalsIgnoreCase(tA) && b.equalsIgnoreCase(sA)) Some((ln, rn))
        else if (a.equalsIgnoreCase(sA) && b.equalsIgnoreCase(tA)) Some((rn, ln))
        else None
      case (Some((Some(a), ln)), Some((None, rn))) =>
        if (a.equalsIgnoreCase(tA)) Some((ln, rn))
        else if (a.equalsIgnoreCase(sA)) Some((rn, ln))
        else None
      case (Some((None, ln)), Some((Some(b), rn))) =>
        if (b.equalsIgnoreCase(sA)) Some((ln, rn))
        else if (b.equalsIgnoreCase(tA)) Some((rn, ln))
        else None
      case (Some((None, ln)), Some((None, rn))) if ln.equalsIgnoreCase(rn) =>
        Some((ln, rn))
      case _ => None
    }
  }

  private def parseAssigns(setList: String): Option[Seq[(String, String)]] = {
    val assigns = splitTop(setList, ',').map {
      case Assign(c, rhs) => ref(c).map { case (_, n) => n -> rhs }
      case _ => None
    }
    if (assigns.nonEmpty && assigns.forall(_.isDefined)) Some(assigns.flatten)
    else None
  }

  private def parseAction(group: Group, body: String): Option[Action] =
    (group, body) match {
      case (Matched | NotMatchedBySource, UpdateStarA()) if group == Matched =>
        Some(UpdateStar)
      case (Matched | NotMatchedBySource, UpdateSetA(sets)) =>
        parseAssigns(sets).map(UpdateSet)
      case (Matched | NotMatchedBySource, DeleteA()) => Some(Delete)
      case (NotMatched, InsertStarA()) => Some(InsertStar)
      case (NotMatched, InsertA(cols, vals)) =>
        val cs = cols.split(",").map(_.trim).toSeq
        val vs = splitTop(vals, ',').map(_.trim)
        if (cs.nonEmpty && cs.forall(_.matches("[\\w.]+")) && cs.length == vs.length)
          Some(Insert(cs.map(_.split("\\.").last), vs))
        else None
      case _ => None
    }

  private def parseClause(body: String): Option[Clause] = body match {
    case NmbsCl(cond, action) =>
      parseAction(NotMatchedBySource, action)
        .map(Clause(NotMatchedBySource, Option(cond), _))
    case NotMatchedCl(cond, action) =>
      parseAction(NotMatched, action).map(Clause(NotMatched, Option(cond), _))
    case MatchedCl(cond, action) =>
      parseAction(Matched, action).map(Clause(Matched, Option(cond), _))
    case _ => None
  }

  /** A `USING (subquery)` source: find the balanced paren group after
    * USING (paren counting outside single-quoted literals) and substitute
    * a placeholder table name, returning (rewritten sql, subquery text).
    * None when the source is a plain table name. */
  private def extractUsingSubquery(sql: String): Option[(String, String)] = {
    val m = "(?is)\\bUSING\\s*\\(".r.findFirstMatchIn(sql).getOrElse(return None)
    val open = m.end - 1
    var depth = 0; var i = open; var inStr = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) {
            val sub = sql.substring(open + 1, i).trim
            val rewritten = sql.substring(0, m.start) +
              "USING __graft_merge_src" + sql.substring(i + 1)
            return Some((rewritten, sub))
          }
        case _ =>
      }
      i += 1
    }
    None // unbalanced — let the delegate report it
  }

  /** Parse the full MERGE shape; None → the caller delegates VERBATIM. */
  def parse(sql0: String): Option[Spec] = {
    if (!sql0.matches("(?is)\\s*MERGE\\s+INTO\\s.*")) return None
    if (sql0.count(_ == '\'') % 2 != 0) return None // a quoted literal could hide structure
    val (sql, sourceQuery) = extractUsingSubquery(sql0) match {
      case Some((rw, sub)) => (rw, Some(sub))
      case None => (sql0, None)
    }
    sql match {
      case Head(target, tAliasOpt, source, sAliasOpt, rest) =>
        val tA = Option(tAliasOpt).getOrElse(target.split("\\.").last)
        val sA = Option(sAliasOpt).getOrElse(source.split("\\.").last)
        val (onText, clauseTexts) = splitOnWhen(rest)
        if (clauseTexts.isEmpty) return None
        val keys = splitTop(onText, ',') match {
          case Seq(one) =>
            val eqs = one.split("(?i)\\s+AND\\s+").map(_.trim).toSeq
            val pairs = eqs.map {
              case Eq(l, r) => keyPair(l, r, tA, sA)
              case _ => None
            }
            if (pairs.nonEmpty && pairs.forall(_.isDefined)) Some(pairs.flatten)
            else None
          case _ => None
        }
        val clauses = clauseTexts.map(parseClause)
        for {
          ks <- keys
          cs <- Some(clauses) if cs.forall(_.isDefined)
        } yield Spec(target, tA, source, sA, ks, cs.flatten, sourceQuery)
      case _ => None
    }
  }
}

/** Executes a parsed full-surface MERGE (see [[MergeParse]]). */
case class MergeIntoFullCommand(spec: MergeParse.Spec) extends LeafRunnableCommand {
  import MergeParse._
  override val output: Seq[Attribute] = Seq.empty

  override def run(spark: SparkSession): Seq[Row] = {
    val mt = ManifestTarget.of(spark, spec.target, "MERGE INTO")
    // the source, resolved ONCE: a table name, or a USING (subquery)
    def sourceDf = spec.sourceQuery.map(spark.sql).getOrElse(spark.table(spec.source))

    // SCHEMA EVOLUTION (Delta's autoMerge rule): under
    // `spark.graft.schema.autoMerge=true`, a star action's SOURCE-ONLY
    // columns are ADDED to the target up front (a metadata-only ALTER —
    // existing files read the new column as NULL) instead of failing the
    // star validation; and a target column the source lacks is legal —
    // UPDATE SET * keeps the target's value, INSERT * NULL-fills. Off by
    // default: silent schema drift must be opted into.
    val autoMerge =
      spark.conf.getOption("spark.graft.schema.autoMerge").contains("true")
    val pendingAdd: Seq[org.apache.spark.sql.types.StructField] =
      if (autoMerge &&
          spec.clauses.exists(c => c.action == UpdateStar || c.action == InsertStar)) {
        val have = spark.table(spec.target).schema.fieldNames
        sourceDf.schema.fields
          .filterNot(f => have.exists(_.equalsIgnoreCase(f.name))).toSeq
      } else Seq.empty

    // names = the POST-evolution schema; the ALTERs themselves run only
    // after every clause validates (below) — a merge that fails its
    // validation must not leave half its schema change committed
    val names = spark.table(spec.target).schema.fieldNames ++
      pendingAdd.map(_.name)

    // validate every referenced TARGET column up front — a typo must fail
    // in MERGE terms, not as a mid-write analysis error
    def checkCol(c: String, what: String): Unit =
      if (!names.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"MERGE INTO: $what column $c not in target ${spec.target} " +
            s"(${names.mkString(", ")})")
    spec.keyPairs.foreach(p => checkCol(p._1, "ON key"))
    val srcCols = sourceDf.columns
    spec.clauses.foreach {
      case Clause(_, _, UpdateStar | InsertStar) if !autoMerge =>
        // a star action must never silently NULL a column the source lacks
        // (autoMerge makes the rule explicit: keep on update, NULL on insert)
        val missing = names.filterNot(n => srcCols.exists(_.equalsIgnoreCase(n)))
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            "MERGE INTO: UPDATE SET * / INSERT * requires the source to " +
              s"carry every target column — missing ${missing.mkString(", ")}")
      case Clause(_, _, UpdateSet(sets)) =>
        sets.foreach(s => checkCol(s._1, "UPDATE SET"))
        sets.groupBy(_._1.toLowerCase).collectFirst {
          case (c, as) if as.length > 1 => c
        }.foreach { c =>
          throw new IllegalArgumentException(
            s"MERGE INTO: column $c assigned more than once in one clause")
        }
      case Clause(_, _, Insert(cols, _)) => cols.foreach(checkCol(_, "INSERT"))
      case _ => ()
    }

    // SCHEMA EVOLUTION commits only now, with every clause validated
    // (a metadata-only ALTER per source-only column — existing files read
    // it as NULL); names needing quoting are backtick-escaped
    pendingAdd.foreach { f =>
      val q = f.name.replace("`", "``")
      spark.sql(
        s"ALTER TABLE ${spec.target} ADD COLUMN `$q` ${f.dataType.sql}")
    }
    val targetSchema = spark.table(spec.target).schema

    val tA = spec.tAlias
    val sA = spec.sAlias
    // ANSI cardinality, folded into the merge join itself: a target row
    // matches >1 source rows IFF its join key occurs >1 times in the
    // source — so count source rows per key with a window (its shuffle is
    // on the join keys, which the join reuses) and fail from the merge
    // projection via raise_error when a matched row carries count > 1.
    // Counting per SOURCE key (not per matched pair grouped by target key)
    // is what makes duplicate target keys legal when each target row
    // still matches at most one source row — the ANSI/Delta rule.
    val src = sourceDf
      .withColumn("__graft_s", lit(true))
      .withColumn("__graft_scnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(spec.keyPairs.map(p => col(p._2)): _*)))
      .as(sA)
    val joinCond = spec.keyPairs
      .map { case (tc, sc) => col(s"$tA.$tc") === col(s"$sA.$sc") }
      .reduce(_ && _)

    val matched = spec.clauses.zipWithIndex.filter(_._1.group == Matched)
    val inserts = spec.clauses.zipWithIndex.filter(_._1.group == NotMatched)
    val nmbs = spec.clauses.zipWithIndex.filter(_._1.group == NotMatchedBySource)

    val dropCodes = "drop" +: spec.clauses.zipWithIndex.collect {
      case (Clause(_, _, Delete), i) => s"c$i"
    }

    /** The merge join + clause routing over a target frame: full outer
      * join, `__graft_action` = FIRST applying clause code. Extra
      * `__graft_*` columns on `tdfRaw` (file/ordinal metadata for the DV
      * path) ride through untouched. */
    def actioned(tdfRaw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val t = tdfRaw.withColumn("__graft_t", lit(true)).as(tA)
      val joined = t.join(src, joinCond, "full_outer")

      val tP = coalesce(col("__graft_t"), lit(false))
      val sP = coalesce(col("__graft_s"), lit(false))

      // ANSI cardinality: a target row matched by >1 source rows would be
      // DUPLICATED by the join formulation (even for a kept row in an
      // insert-only merge) — fail from the same job that computes the
      // merge, before anything commits (the write aborts, the manifest
      // swap never happens). `__graft_scnt` is the per-key source count
      // attached upstream of the join.
      val dupFail = tP && sP && col("__graft_scnt") > 1

      // route every row to the FIRST applying clause of its group; the
      // codes key both the survival filter and the per-column projection
      def firstApplying(cls: Seq[(Clause, Int)], fallback: String): Column =
        coalesce(cls.map { case (c, i) =>
          when(c.cond.map(expr).map(p => coalesce(p, lit(false)))
            .getOrElse(lit(true)), lit(s"c$i"))
        } :+ lit(fallback): _*)
      val action =
        when(dupFail, raise_error(concat(
          lit(s"MERGE INTO: source ${spec.source} carries multiple rows " +
            "matching target key ("),
          concat_ws(", ",
            spec.keyPairs.map(p => col(s"$tA.${p._1}").cast("string")): _*),
          lit(") — ANSI MERGE cardinality violation"))).cast("string"))
          .when(tP && sP, firstApplying(matched, "keep"))
          .when(!tP && sP, firstApplying(inserts, "drop"))
          .otherwise(firstApplying(nmbs, "keep"))

      joined.withColumn("__graft_action", action)
    }

    def colValue(f: StructField): Column = {
      val tcol = col(s"$tA.${f.name}")
      val srcHas =
        sourceDf.columns.exists(_.equalsIgnoreCase(f.name))
      val scol: Column = // the source may not carry every target column
        if (srcHas) col(s"$sA.${f.name}") else lit(null)
      val branches = spec.clauses.zipWithIndex.flatMap { case (c, i) =>
        c.action match {
          // a source-missing column under UPDATE SET * KEEPS the target's
          // value (reachable only under autoMerge — validated otherwise)
          case UpdateStar => Some(s"c$i" -> (if (srcHas) scol else tcol))
          case UpdateSet(sets) => Some(s"c$i" ->
            sets.find(_._1.equalsIgnoreCase(f.name)).map(s => expr(s._2))
              .getOrElse(tcol))
          case InsertStar => Some(s"c$i" -> scol)
          case Insert(cols, vals) => Some(s"c$i" ->
            cols.zip(vals).find(_._1.equalsIgnoreCase(f.name))
              .map(cv => expr(cv._2)).getOrElse(lit(null)))
          case Delete => None // filtered before projection
        }
      }
      branches.foldLeft(when(col("__graft_action") === "keep", tcol)) {
        case (acc, (code, v)) => acc.when(col("__graft_action") === code, v)
      }.cast(f.dataType).as(f.name)
    }

    /** Surviving rows projected to the target schema; `excludeKeep` drops
      * unchanged target rows too (the DV append path — kept rows stay in
      * their original files). */
    def projectMerged(df: org.apache.spark.sql.DataFrame,
        excludeKeep: Boolean = false): org.apache.spark.sql.DataFrame = {
      val alive = df.filter(!col("__graft_action").isin(dropCodes: _*))
      val flt =
        if (excludeKeep) alive.filter(col("__graft_action") =!= "keep")
        else alive
      flt.select(targetSchema.fields.map(colValue).toIndexedSeq: _*)
    }

    /** The lowered computation over a target frame (the whole table, or
      * just its touched files on the bounded path). */
    def mergeResult(tdfRaw: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = projectMerged(actioned(tdfRaw))

    // A data column literally named `_file` SHADOWS the scan's metadata
    // column (the data-column-wins rule in ManifestScanBuilder), so the
    // touched-file discovery below would read data values instead of
    // manifest entry names and silently lose matched updates — fall back
    // to the whole-table rewrite for such tables.
    val fileColShadowed = names.exists(_.equalsIgnoreCase("_file"))

    // WHOLE-TABLE shape: a NOT MATCHED BY SOURCE clause touches every
    // unmatched target row, so no file can be excluded up front; a
    // shadowed `_file` column defeats the metadata-column discovery. Both
    // commit through the same pipeline with the touched set = EVERY entry
    // — so commit-time CDC still records (the actioned frame carries
    // per-clause codes either way).
    val wholeTable = nmbs.nonEmpty || fileColShadowed

    // FILE-BOUNDED path (the Delta merge algorithm): without
    // NOT-MATCHED-BY-SOURCE clauses, rows in files holding NO matched key
    // are untouched by every clause — so (1) one semi-join over the
    // `_file` metadata column finds the files containing matched keys,
    // (2) ONLY those files full-outer-join the source (unmatched source
    // rows — the inserts — surface there too; a source key absent from
    // the touched files matches nothing anywhere, by construction of the
    // touched set), and (3) the row-level pipeline commits, replacing or
    // vectoring exactly the touched files. A selective MERGE over a 100 TB
    // table touches only the files it matches; an insert-only MERGE
    // rewrites none (pure append). The whole-table shape skips the
    // discovery and takes every entry. The whole snapshot→discover→
    // commit sequence retries against the fresh manifest on optimistic
    // conflict.
    import graft.sources.ManifestTable
    val dir = mt.dir
    ManifestTable.rowLevel(dir, "MERGE") { m =>
      val touched = if (wholeTable) m.entries else {
        // Pin the discovery scan to m's snapshot (the exact file list read
        // above): without the pin, a concurrent commit landing between
        // the manifest read and scan planning could surface `_file` names
        // absent from m.entries, which the touched-set filter below would
        // silently drop — their matched rows would never rewrite.
        val tKeys = ManifestTable.scanFiles(spark, dir, m.entries.map(_.name))
          .select(spec.keyPairs.map(p => col(p._1)) :+ col("_file"): _*).as("__mt")
        val sKeys = sourceDf.as("__ms")
        val kCond = spec.keyPairs
          .map { case (tc, sc) => col(s"__mt.$tc") === col(s"__ms.$sc") }
          .reduce(_ && _)
        val keyFiles = tKeys.join(sKeys, kCond, "left_semi")
          .select(col("_file")).distinct().collect().map(_.getString(0)).toSet
        m.entries.filter(e => keyFiles(e.name))
      }
      // commit-time CDC ([[graft.sources.ManifestTable.writeCdc]]): the
      // merge's exact change rows, attributed per CLAUSE KIND — updates
      // yield both images, deletes the preimage, inserts the projected
      // row. One extra bounded job over the same pinned file set and the
      // same routing as the rewrite itself (exact for deterministic
      // clause expressions; a nondeterministic rhs — rand(),
      // current_timestamp — can record postimages differing from the
      // committed rows, the same caveat Delta documents).
      val updateCodes = spec.clauses.zipWithIndex.collect {
        case (Clause(_, _, UpdateStar | _: UpdateSet), i) => s"c$i" }
      val deleteCodes = spec.clauses.zipWithIndex.collect {
        case (Clause(_, _, Delete), i) => s"c$i" }
      val insertCodes = spec.clauses.zipWithIndex.collect {
        case (Clause(NotMatched, _, InsertStar | _: Insert), i) => s"c$i" }
      def inCodes(codes: Seq[String]): Column =
        if (codes.isEmpty) lit(false)
        else col("__graft_action").isin(codes: _*)
      def changes(tdf: org.apache.spark.sql.DataFrame) = {
        val acts = actioned(tdf)
        val tP = coalesce(col("__graft_t"), lit(false))
        val tCols = targetSchema.fields
          .map(f => col(s"$tA.${f.name}").as(f.name)).toIndexedSeq
        val outCols = targetSchema.fields.map(colValue).toIndexedSeq
        acts.filter(tP && inCodes(updateCodes)).select(tCols: _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(acts.filter(tP && inCodes(updateCodes))
            .select(outCols: _*)
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(acts.filter(tP && inCodes(deleteCodes))
            .select(tCols: _*).withColumn("_change_type", lit("delete")))
          .unionByName(acts.filter(!tP && inCodes(insertCodes))
            .select(outCols: _*).withColumn("_change_type", lit("insert")))
      }
      // merge-on-read: the changed output (updated rows + inserts)
      // appends, and the MODIFIED target ordinals (updates AND deletes)
      // are the hits — the same deterministic join over the same pinned
      // file set, with the metadata columns carried under private names
      ManifestTable.commit(dir, m, "MERGE INTO (copy-on-write)",
        ManifestTable.RowPlan(touched, mergeResult,
          hits = Some(tdf => actioned(tdf
              .select(col("*"), col("_file").as("__graft_file"),
                col("_pos").as("__graft_pos")))
            .filter(coalesce(col("__graft_t"), lit(false)) &&
              col("__graft_action") =!= "keep")
            .select(col("__graft_file"), col("__graft_pos"))),
          appended = Some(tdf => projectMerged(actioned(tdf), excludeKeep = true)),
          changes = Some(changes), inserts = true))
    }
    Seq.empty
  }
}
