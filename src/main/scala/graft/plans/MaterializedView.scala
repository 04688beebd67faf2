package graft.plans

import java.nio.file.Path
import java.util.Base64

import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{GraftCatalog, Manifest, ManifestTable}

/** MATERIALIZED VIEWS over manifest tables, with INCREMENTAL refresh riding
  * the snapshot trail (the lakehouse MV-maintenance story):
  *
  *  - `CREATE MATERIALIZED VIEW t AS <query>` evaluates the query PINNED to
  *    the source's current snapshot, stores the result as an ordinary
  *    manifest table, and records (query, source dir, source version) in
  *    the MV table's own manifest props — the MV is fully self-describing.
  *  - `REFRESH MATERIALIZED VIEW t` diffs each source's snapshot trail
  *    against the recorded versions. When EXACTLY ONE source changed, its
  *    window is APPEND-ONLY (every old file still live, byte-identical
  *    entry, no new deletion vectors) and the query is a DECOMPOSABLE
  *    aggregate (GROUP BY + COUNT / SUM / MIN / MAX over Project / Filter /
  *    INNER-join of manifest sources), the refresh aggregates ONLY the
  *    files added since the last refresh — each unchanged source pinned to
  *    its recorded snapshot — and merges the partials into the stored
  *    result: counts and sums add, mins and maxes fold — cost
  *    O(|MV| + |new data| ⋈ dims), NEVER a rescan of the 100 TB source.
  *    The flagship join shape: append-only fact ⋈ static dims refreshes
  *    from the new fact files only. Any other shape (outer joins, AVG,
  *    DISTINCT, several changed sources, a changed dim, a rewrite in the
  *    window, a recreated source) falls back to a full recompute — a
  *    correctness-first downgrade, never a wrong incremental answer.
  *
  * Both paths publish through the sink's atomic truncate-overwrite commit,
  * which preserves the MV props; the recorded source version advances in a
  * second metadata-only swap. Readers see the old MV or the new one, never
  * a partial.
  *
  * Not decomposable by design: AVG (final form is not mergeable — declare
  * SUM + COUNT and divide at read), DISTINCT aggregates, and double SUMs
  * are merged in floating point (bit-exactness across refresh histories is
  * not promised for doubles; use DECIMAL or integer columns where it is).
  */
object MaterializedView {
  /** MV metadata keys (raw manifest props — engine-owned, so they never
    * surface through SHOW TBLPROPERTIES). The query stores base64ed: SQL
    * text carries newlines the line-oriented manifest cannot hold.
    * Multi-source MVs (joins) record every manifest source as
    * `mv.src.<i>.dir` / `mv.src.<i>.version` (i over dir-sorted sources);
    * the legacy single-source pair stays for sole-source MVs. */
  private[graft] val QueryProp = "mv.query64"
  private[graft] val SourceDirProp = "mv.sourceDir"
  private[graft] val SourceVersionProp = "mv.sourceVersion"

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private[plans] def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), "UTF-8")

  /** Every manifest-table relation of the plan, in plan order (a dir may
    * repeat — self-joins — which the incremental path must notice). */
  private def manifestSources(plan: LogicalPlan): Seq[(DataSourceV2Relation, ManifestTable)] =
    ManifestTable.relations(plan)

  /** The ONE manifest-table relation of a plan, when the plan reads exactly
    * one (the legacy-props contract). */
  private def soleSource(plan: LogicalPlan): Option[(DataSourceV2Relation, ManifestTable)] =
    manifestSources(plan) match {
      case Seq(one) => Some(one)
      case _ => None
    }

  /** Props recording the MV's manifest sources: (abs dir, version), dir
    * sorted. Reads the multi-source keys, falling back to the legacy
    * single-source pair. Shared with [[MvRewrite]]'s freshness guard. */
  private[plans] def recordedSources(props: Map[String, String]): Seq[(String, Int)] = {
    val multi = Iterator.from(0).map { i =>
      for {
        d <- props.get(s"mv.src.$i.dir")
        v <- props.get(s"mv.src.$i.version")
      } yield (d, v.toInt)
    }.takeWhile(_.isDefined).flatten.toSeq
    if (multi.nonEmpty) multi
    else (for {
      d <- props.get(SourceDirProp)
      v <- props.get(SourceVersionProp)
    } yield (d, v.toInt)).toSeq
  }

  private def sourceProps(versions: Seq[(String, Int)]): Map[String, String] =
    versions.sortBy(_._1).zipWithIndex.flatMap { case ((d, v), i) =>
      Seq(s"mv.src.$i.dir" -> d, s"mv.src.$i.version" -> v.toString)
    }.toMap

  /** How a term's scan of one source directory is bounded. */
  private sealed trait Pin
  /** An explicit snapshot and/or file subset (the append-only machinery). */
  private case class SnapPin(snapshot: Option[Int],
      files: Option[Seq[String]]) extends Pin
  /** One SIGN of the source's change feed over (from, to]: the + rows
    * (insert / update_postimage) or the − rows (delete / update_preimage)
    * — the CDF-driven refresh's delta relations. */
  private case class CdfPin(from: Int, to: Int, plus: Boolean) extends Pin

  /** Re-pin the plan's manifest relations PER SOURCE DIRECTORY — snapshot/
    * file-subset pins are plan surgery via each relation's own read
    * options; CDF pins SPLICE a change-feed scan in the relation's place,
    * aliased to the original output attribute ids so the aggregate/
    * filter/project/join structure above evaluates unchanged. */
  private def pinned(spark: SparkSession, plan: LogicalPlan,
      pins: Map[String, Pin]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // pin the ORIGINAL plan's relations only, matched by object identity —
    // a CDF splice's replacement subtree scans the SAME directory, and a
    // directory-keyed match would re-splice inside it forever
    val targets = ManifestTable.relations(plan).map(_._1)
    val surgered = plan.transform {
      case r: DataSourceV2Relation if targets.exists(_ eq r) &&
          pins.contains(r.table.asInstanceOf[ManifestTable].dir.toAbsolutePath.toString) =>
        val dirStr = r.table.asInstanceOf[ManifestTable].dir.toAbsolutePath.toString
        pins(dirStr) match {
          case SnapPin(snapshot, files) =>
            val opts = new java.util.HashMap[String, String](r.options)
            snapshot.foreach(v => opts.put("snapshot", v.toString))
            files.foreach(fs => opts.put("files", fs.mkString(",")))
            r.copy(options = new CaseInsensitiveStringMap(opts))
          case CdfPin(from, to, plus) =>
            val wanted =
              if (plus) Seq("insert", "update_postimage")
              else Seq("delete", "update_preimage")
            val cdf = graft.sources.ManifestTable
              .changes(spark, java.nio.file.Paths.get(dirStr), from, to)
              .where(col("_change_type").isin(wanted: _*))
              .select(r.output.map(a => col(a.name)): _*)
            val rep = cdf.queryExecution.analyzed
            // alias the spliced subtree back to the ORIGINAL attribute ids
            // so references above the relation keep resolving
            Project(r.output.map { a =>
              val src = rep.output.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
                throw new IllegalStateException(
                  s"CDF splice: change feed of $dirStr lacks column ${a.name}"))
              Alias(src, a.name)(exprId = a.exprId)
            }, rep)
        }
    }
    GraftExpressionBridge.ofRows(spark, surgered)
  }

  /** Decomposable-aggregate shape: Aggregate over Project/Filter/alias/
    * INNER-join of manifest relations, every output either a grouping
    * expression or an alias of an unfiltered COUNT/SUM/MIN/MAX. Inner joins
    * are delta-linear in each input (J(F∪Δ, D) = J(F, D) ∪ J(Δ, D)), so an
    * append-only change to ONE side re-aggregates only that side's new
    * files joined to the others' pinned snapshots; outer joins are not
    * (a new fact row can flip a previously unmatched dim row), so they fall
    * back to a full refresh. Returns the per-output merge plan: (output
    * column name, merge function name) — "key" groups, the rest fold with
    * the named SQL aggregate. */
  private def decompose(plan: LogicalPlan): Option[Seq[(String, String)]] = {
    def okChild(p: LogicalPlan): Boolean = p match {
      case f: Filter => f.condition.deterministic && okChild(f.child)
      case pr: Project => pr.projectList.forall(_.deterministic) && okChild(pr.child)
      case s: SubqueryAlias => okChild(s.child)
      case j: Join => j.joinType == Inner &&
        j.condition.forall(_.deterministic) && okChild(j.left) && okChild(j.right)
      case r: DataSourceV2Relation => r.table.isInstanceOf[ManifestTable]
      case _ => false
    }
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort => strip(s.child) // MV storage order is irrelevant
      case other => other
    }
    strip(plan) match {
      case Aggregate(_, aggExprs, child, _) if okChild(child) =>
        val cols = aggExprs.map(mergeOf)
        if (cols.forall(_.isDefined) && cols.exists(_.exists(_._2 != "key")))
          Some(cols.flatten)
        else None
      case _ => None
    }
  }

  private def mergeOf(e: NamedExpression): Option[(String, String)] = e match {
    case a: AttributeReference => Some(a.name -> "key")
    case Alias(child, name) =>
      val aggs = child.collect { case ae: AggregateExpression => ae }
      if (aggs.isEmpty)
        // a grouping expression in the output (year(ts), …) — deterministic
        // per row, so it re-derives identically on the delta side
        if (child.deterministic) Some(name -> "key") else None
      else if (aggs.length == 1 && child == aggs.head) aggs.head match {
        case AggregateExpression(fn, Complete, false, None, _) => fn match {
          // count(*)/count(1) is tagged "cnt" (still folds by addition):
          // it doubles as the GROUP-LIVENESS witness the CDF-driven
          // refresh needs to drop fully-deleted groups
          case c: Count if c.children.forall(_.foldable) => Some(name -> "cnt")
          case _: Count => Some(name -> "sum") // counts add
          case _: Sum => Some(name -> "sum")
          case _: Min => Some(name -> "min")
          case _: Max => Some(name -> "max")
          case _ => None // AVG & friends: final form not mergeable
        }
        case _ => None // DISTINCT / FILTER forms: not mergeable
      }
      else None // expressions OF aggregates (sum(x)/count(x)): not mergeable
    case _ => None
  }

  /** Fold delta partials into the stored MV: union, group by the key
    * columns, merge each aggregate column with its fold function. Works on
    * FINAL values because count/sum/min/max finals ARE their partials. */
  private def merge(old: DataFrame, delta: DataFrame,
      cols: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = cols.collect { case (n, "key") => n }
    val folds = cols.collect { case (n, f) if f != "key" =>
      (f match {
        case "sum" | "cnt" => sum(col(n))
        case "min" => min(col(n))
        case "max" => max(col(n))
      }).as(n)
    }
    val merged = old.unionByName(delta).groupBy(keys.map(col): _*)
      .agg(folds.head, folds.tail: _*)
    // keep the MV's declared column order AND types (re-summing widens
    // decimal precision; the stored schema is already the query's own
    // sum-widened type, so the cast is the identity unless the value
    // genuinely overflows — where a full recompute would overflow too)
    merged.select(cols.map { case (n, _) =>
      col(n).cast(old.schema(n).dataType).as(n) }: _*)
  }

  /** Entry versions that must be UNCHANGED for the window to count as
    * append-only: same physical file, same row count, same deletion-vector
    * sidecar (a new DV is a logical delete — not an append). */
  private def entryKey(e: graft.sources.ManifestFile): (String, Long, Option[String]) =
    (e.name, e.rows, e.dv.map(_._1))

  // ---------------------------------------------------------------- create --

  def create(spark: SparkSession, target: String, query: String): Unit = {
    val analyzed = spark.sql(query).queryExecution.analyzed
    val sources = manifestSources(analyzed)
    if (sources.isEmpty) throw new UnsupportedOperationException(
      "CREATE MATERIALIZED VIEW: the query must read at least one graft " +
        "manifest table (the refresh machinery rides the snapshot trail)")
    // Pin the evaluation to every source's newest snapshot so the recorded
    // versions are EXACTLY what the stored result reflects (a commit
    // landing mid-CTAS must not leak rows the next refresh would re-add).
    val versions = sources.map(_._2.dir.toAbsolutePath.toString).distinct
      .map(d => d -> Manifest.snapshotVersions(java.nio.file.Paths.get(d))
        .lastOption.getOrElse(0))
    val df = pinned(spark, analyzed,
      versions.map { case (d, v) =>
        d -> (SnapPin(Some(v).filter(_ > 0), None): Pin) }.toMap)
    df.writeTo(target).create()
    val mvDir = ManifestTarget.of(spark, target, "CREATE MATERIALIZED VIEW").dir
    stamp(mvDir, Map(QueryProp -> b64(query)) ++ sourceProps(versions) ++
      soleSource(analyzed).map(s =>
        SourceDirProp -> s._2.dir.toAbsolutePath.toString) ++
      (if (sources.length == 1)
        Map(SourceVersionProp -> versions.head._2.toString) else Map.empty))
  }

  /** Metadata-only props update through the same atomic swap as every
    * schema change. */
  private def stamp(mvDir: Path, kv: Map[String, String]): Unit =
    graft.sources.ManifestLock.withLock(mvDir) {
      val m = Manifest.read(mvDir).getOrElse(throw new IllegalStateException(
        s"materialized view: no manifest at $mvDir"))
      Manifest.write(mvDir, m.copy(props = m.props ++ kv))
    }

  // --------------------------------------------------------------- refresh --

  /** Refresh; returns (mode, rows) where mode ∈ {noop, incremental, full}.
    *
    * Incremental fires when the query decomposes ([[decompose]] — now
    * including inner-join trees), the recorded source set matches the
    * query's, and EXACTLY ONE source changed with an append-only window:
    * the delta aggregates only that source's added files, each OTHER
    * source pinned to its recorded (unchanged) snapshot, and the partials
    * fold into the stored result. The classic shape this buys: an
    * append-only fact ⋈ static dims rollup refreshes from the new fact
    * files only — never a rescan of the 100 TB join. Several changed
    * sources, a changed dim, outer joins, or a dir read twice (self-join)
    * fall back to a full recompute — a correctness-first downgrade. */
  def refresh(spark: SparkSession, target: String): (String, Long) = {
    val mvDir = ManifestTarget.of(spark, target, "REFRESH MATERIALIZED VIEW").dir
    val props = Manifest.read(mvDir).map(_.props).getOrElse(Map.empty)
    val query = props.get(QueryProp).map(unb64).getOrElse(
      throw new UnsupportedOperationException(
        s"REFRESH MATERIALIZED VIEW: $target is not a materialized view " +
          "(no stored query)"))
    val recorded = recordedSources(props).toMap

    val analyzed = spark.sql(query).queryExecution.analyzed
    val sources = manifestSources(analyzed)
    val dirs = sources.map(_._2.dir.toAbsolutePath.toString)
    val current: Seq[(String, Int)] = dirs.distinct
      .map(d => d -> Manifest.snapshotVersions(java.nio.file.Paths.get(d))
        .lastOption.getOrElse(0))
    if (sources.nonEmpty && recorded.keySet == current.map(_._1).toSet &&
      current.forall { case (d, v) => recorded(d) == v })
      return ("noop", spark.table(target).count())

    // append-only window on EVERY changed source: each one's recorded
    // snapshot still exists and every entry of it survives byte-identically
    // in the current manifest; every unchanged source is byte-for-byte the
    // version the stored result was computed from. An inner join is
    // delta-linear in EACH input, so for K changed sources the delta is
    // the inclusion–exclusion expansion — e.g. two changed sides of F⋈D:
    //   J(F∪Δ₁, D∪Δ₂) − J(F, D) = J(Δ₁, D) ∪ J(F, Δ₂) ∪ J(Δ₁, Δ₂)
    // — one pinned term per nonempty subset of the changed set (2ᴷ−1
    // terms; each term joins at least one added-files-only scan, so the
    // cost is delta-sized, never a rescan of the 100 TB base). K is
    // capped: past 3 changed sources the 2ᴷ−1 fan-out stops paying for
    // itself against one recompute.
    /** (v0, v1, added file names) when `d`'s window is append-only. */
    def appendWindow(d: String): Option[(Int, Int, Seq[String])] = {
      val p = java.nio.file.Paths.get(d)
      for {
        m1 <- Manifest.read(p)
        v0 = recorded(d)
        m0 <- if (v0 == 0) Some(Manifest(m1.schema, Seq.empty))
              else Manifest.readSnapshot(p, v0)
        oldKeys = m0.entries.map(entryKey).toSet
        if oldKeys.subsetOf(m1.entries.map(entryKey).toSet)
      } yield (v0, current.toMap.apply(d),
        m1.entries.filterNot(e => oldKeys(entryKey(e))).map(_.name))
    }
    // a changed source refreshes incrementally through one of two windows:
    //  - APPEND-ONLY ([[appendWindow]]): aggregate only the added files;
    //  - CHANGE-FEED: when commits in the window deleted or rewrote rows,
    //    the batch change feed ([[graft.sources.ManifestTable.changes]])
    //    yields the EXACT multiset delta — + rows (insert/update_postimage)
    //    and − rows (delete/update_preimage) — and the classic IVM fold
    //    applies: aggregate each sign separately with the ORIGINAL plan,
    //    negate the − partials, fold both into the stored result. Sound
    //    only for addition-folded aggregates (COUNT/SUM — retracting the
    //    current MIN would need a group rescan) and needs a COUNT(*)
    //    column as the group-liveness witness: a group whose count folds
    //    to 0 was fully deleted and leaves the MV, exactly as a recompute
    //    would drop it. Cost stays delta-sized: the feed reads only files
    //    the window's commits touched.
    sealed trait Win { def v0: Int }
    case class AppendW(v0: Int, v1: Int, added: Seq[String]) extends Win
    case class CdfW(v0: Int, v1: Int) extends Win
    val incremental: Option[DataFrame] = try for {
      cols <- decompose(analyzed)
      if recorded.keySet == current.map(_._1).toSet
      changed = current.collect { case (d, v) if recorded(d) != v => d }
      if changed.nonEmpty && changed.length <= 3
      // each changed dir must feed exactly ONE relation: a self-join's
      // delta is not linear in its input (Δ⋈Δ cross terms), so it recomputes
      if changed.forall(d => dirs.count(_ == d) == 1)
      windows = changed.map { d =>
        d -> appendWindow(d).map { case (v0, v1, a) => AppendW(v0, v1, a): Win }
          .getOrElse(CdfW(recorded(d), current.toMap.apply(d)))
      }.toMap
      cdfDirs = windows.collect { case (d, _: CdfW) => d }.toSet
      // CDF-driven terms double per sign: keep the fan-out bounded
      if cdfDirs.isEmpty || changed.length <= 2
      // CDF eligibility: addition-only folds + a liveness count
      if cdfDirs.isEmpty || (cols.forall { case (_, f) =>
        f == "key" || f == "sum" || f == "cnt" } && cols.exists(_._2 == "cnt"))
      // the stored result, PINNED to its newest archived snapshot: the
      // truncate-overwrite below swaps the manifest, but the pinned scan
      // resolved its file list against the immutable archived version and
      // superseded data files stay on disk until VACUUM — so the merge can
      // read the MV it replaces without a driver-side materialization
      mvSnap <- Manifest.snapshotVersions(mvDir).lastOption
      oldMv = spark.read.format("graft.sources.GraftManifestSink")
        .option("path", mvDir.toString).option("snapshot", mvSnap.toString).load()
      terms = changed.toSet.subsets().filter(_.nonEmpty).flatMap { subset =>
        val cdfInS = subset.intersect(cdfDirs).toSeq.sorted
        (0 until (1 << cdfInS.length)).map { mask =>
          val minus = cdfInS.zipWithIndex.collect {
            case (d, i) if (mask & (1 << i)) != 0 => d }.toSet
          val pins: Map[String, Pin] = current.map { case (d, v) =>
            windows.get(d) match {
              case Some(AppendW(_, v1, added)) if subset(d) =>
                d -> SnapPin(Some(v1), Some(added))   // this term's Δ side
              case Some(CdfW(v0, v1)) if subset(d) =>
                d -> CdfPin(v0, v1, plus = !minus(d))
              case Some(w) =>                          // changed, but the
                if (w.v0 > 0) d -> SnapPin(Some(w.v0), None) // OLD state
                else d -> SnapPin(None, Some(Seq.empty))     // (empty at create)
              case None => d -> SnapPin(Some(v).filter(_ > 0), None) // unchanged
            }
          }.toMap
          (pinned(spark, analyzed, pins), minus.size % 2 == 1)
        }
      }.toSeq
      signed = terms.map { case (df, negative) =>
        if (!negative) df
        else df.select(cols.map {
          case (n, "key") => org.apache.spark.sql.functions.col(n)
          case (n, _) => (-org.apache.spark.sql.functions.col(n)).as(n)
        }: _*)
      }
      delta = signed.reduce(_.unionByName(_))
      merged = merge(oldMv, delta, cols)
      keys = cols.collect { case (n, "key") => n }
      live = if (cdfDirs.nonEmpty && keys.nonEmpty)
        merged.filter(org.apache.spark.sql.functions
          .col(cols.find(_._2 == "cnt").get._1) > 0)
      else merged
    } yield live
    catch {
      // the change feed refuses exactness driver-side at CONSTRUCTION
      // (expired snapshot, vacuumed CDC sidecar — IllegalState/Argument):
      // downgrade to a full recompute instead of failing the refresh
      case _: IllegalStateException | _: IllegalArgumentException => None
    }

    val (mode, result) = incremental match {
      case Some(df) => ("incremental", df)
      case None => ("full", pinned(spark, analyzed,
        current.map { case (d, v) =>
          d -> (SnapPin(Some(v).filter(_ > 0), None): Pin) }.toMap))
    }
    result.writeTo(target).overwrite(org.apache.spark.sql.functions.lit(true))
    stamp(mvDir, sourceProps(current) ++
      soleSource(analyzed).map(s =>
        SourceDirProp -> s._2.dir.toAbsolutePath.toString) ++
      (if (sources.length == 1)
        Map(SourceVersionProp -> current.head._2.toString) else Map.empty))
    (mode, spark.table(target).count()) // metadata-only count pushdown
  }
}
