package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A V2 CATALOG PLUGIN backed by manifest-committed tables
  * ([[GraftManifestSink]]) — the surface that turns path-addressed tables
  * into SQL-addressed ones:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/graft")
  *   spark.sql("CREATE TABLE graft.corpus.docs (doc_id BIGINT, text STRING)")
  *   spark.sql("INSERT INTO graft.corpus.docs SELECT ...")   // manifest commit
  *   spark.sql("SELECT * FROM graft.corpus.docs")            // manifest-scoped
  * }}}
  *
  * Layout: `<root>/<namespace>/<table>/` with the sink's `_manifest` +
  * versioned snapshots; CREATE writes an empty manifest (schema only), so a
  * created-then-unwritten table reads as zero rows, and every INSERT goes
  * through the sink's atomic commit protocol. DROP removes the directory.
  * This is metadata-only driver code — listing is O(#tables), never a data
  * scan.
  */
object GraftCatalog {
  /** User TBLPROPERTIES store in the manifest under this prefix — they can
    * never collide with the sink's own properties (partition columns,
    * streaming epoch watermarks). */
  private[graft] val TblPropPrefix = "tbl."

  /** Spark-managed keys that are session/engine metadata, not user table
    * properties — never persisted. */
  private val ReservedProps =
    Set("provider", "owner", "location", "external", "is_managed_location")

  /** Filter + prefix user properties for the manifest, rejecting characters
    * the line-oriented manifest text format reserves (a tab or newline in a
    * value would tear the props line on re-read). */
  private[sources] def userProps(raw: Map[String, String]): Map[String, String] =
    raw.filterNot { case (k, _) => ReservedProps(k) || k.startsWith("option.") }
      .map { case (k, v) =>
        if (k.exists(c => c == '\t' || c == '\n' || c == '\r' || c == '='))
          throw new IllegalArgumentException(
            s"TBLPROPERTIES: key '$k' contains a character the manifest " +
              "format reserves (tab/newline/=)")
        if (v.exists(c => c == '\t' || c == '\n' || c == '\r'))
          throw new IllegalArgumentException(
            s"TBLPROPERTIES: value of '$k' contains a tab or newline — the " +
              "manifest text format cannot store it")
        (TblPropPrefix + k) -> v
      }

  /** Validate a `PARTITIONED BY` transform list against a schema; returns
    * (clustering source columns, declared-transform renderings). Shared by
    * CREATE TABLE and `ALTER TABLE … SET PARTITIONING` (partition
    * evolution — the clustering contract makes evolution metadata-only:
    * old files keep their old clustering and the zone maps still prune
    * them; only NEW writes follow the new layout). */
  private[graft] def validateTransforms(schema: StructType,
      partitions: Array[Transform]): (Seq[String], Seq[String]) = {
    def sourceCol(t: Transform): String = {
      if (t.references().length != 1 || t.references()(0).fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"PARTITIONED BY: ${t.name()} must reference exactly one top-level column")
      val c = t.references()(0).fieldNames()(0)
      schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITIONED BY: column $c not in schema " +
            s"(${schema.fieldNames.mkString(", ")})")).name
    }
    val TimeTransforms = Set("years", "months", "days", "hours")
    // `CLUSTER BY (a, b)` — Delta's liquid-clustering DDL: ONE transform
    // carrying every clustering column. This sink's "partitioning" IS
    // value clustering, so the spec lowers onto the same machinery
    // (range-clustered writes + zone-map pruning) with its own rendering,
    // so DESCRIBE / SHOW CREATE reproduce CLUSTER BY, not PARTITIONED BY.
    partitions.toSeq.collectFirst {
      case t: org.apache.spark.sql.connector.expressions.ClusterByTransform => t
    }.foreach { cb =>
      if (partitions.length != 1) throw new UnsupportedOperationException(
        "CLUSTER BY cannot combine with PARTITIONED BY transforms")
      val cols = cb.columnNames.map { nr =>
        if (nr.fieldNames().length != 1) throw new UnsupportedOperationException(
          "CLUSTER BY: nested fields not supported")
        val c = nr.fieldNames()(0)
        schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"CLUSTER BY: column $c not in schema " +
              s"(${schema.fieldNames.mkString(", ")})")).name
      }
      if (cols.distinct.length != cols.length)
        throw new IllegalArgumentException(
          s"CLUSTER BY: duplicate column in (${cols.mkString(", ")})")
      return (cols, Seq(s"cluster_by(${cols.mkString(",")})"))
    }
    // (clustering column, declared-transform rendering)
    val parsed: Seq[(String, String)] = partitions.toSeq.map { t =>
      t.name() match {
        case "identity" => val c = sourceCol(t); (c, c)
        case n if TimeTransforms(n) =>
          val c = sourceCol(t)
          val f = schema.fields.find(_.name == c).get
          if (f.dataType != org.apache.spark.sql.types.TimestampType &&
            f.dataType != org.apache.spark.sql.types.DateType)
            throw new IllegalArgumentException(
              s"PARTITIONED BY: $n($c) needs a date/timestamp column, " +
                s"got ${f.dataType.simpleString}")
          (c, s"$n($c)")
        case "bucket" =>
          val c = sourceCol(t)
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value().toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            s"PARTITIONED BY: bucket transform without a bucket count: $t"))
          if (n <= 0) throw new IllegalArgumentException(
            s"PARTITIONED BY: bucket count must be positive, got $n")
          // the bucket hash must be stable across engines and rewrites —
          // float/double have no portable encoding (the Iceberg rule)
          val bt = schema.fields.find(_.name == c).get.dataType
          if (!BucketHash.supported(bt)) throw new IllegalArgumentException(
            s"PARTITIONED BY: bucket($n, $c) needs a " +
              s"long/int/string/date/timestamp column, got ${bt.simpleString}")
          (c, s"bucket($n,$c)")
        case _ =>
          throw new UnsupportedOperationException(
            s"PARTITIONED BY: unsupported transform $t — identity columns, " +
              "years/months/days/hours(ts) and bucket(n, col) are accepted")
      }
    }
    val partCols = parsed.map(_._1)
    if (partCols.distinct.length != partCols.length)
      throw new IllegalArgumentException(
        s"PARTITIONED BY: duplicate source column in (${parsed.map(_._2).mkString(", ")})")
    (partCols, parsed.map(_._2))
  }

  /** The manifest props a partitioning contract stores (empty map = drop
    * both keys — how SET PARTITIONING () un-partitions a table). */
  private[graft] def partitionProps(partCols: Seq[String],
      transforms: Seq[String]): Map[String, String] =
    (if (partCols.isEmpty) Map.empty[String, String]
     else Map(Manifest.PartitionColsProp -> partCols.mkString(","))) ++
      (if (transforms == partCols) Map.empty[String, String] // identity-only
       else Map(Manifest.PartitionTransformsProp -> transforms.mkString(";")))
}

class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.root")))
    Files.createDirectories(root)
  }
  override def name(): String = catalogName

  private def nsDir(namespace: Array[String]): Path =
    namespace.foldLeft(root)(_.resolve(_))
  /** BRANCH ADDRESSING: `` `t@b` `` resolves to table t's branch b — a
    * directory under the table's own (`_branch_b/`), created by
    * `ALTER TABLE t CREATE BRANCH b` ([[Branch]]). Every surface that
    * loads tables by identifier (reads, writes, DML, OPTIMIZE, DESCRIBE)
    * therefore works on branches unchanged. `@` can't appear in an
    * ordinary table name (it needs backticks even to parse), so the split
    * is unambiguous. */
  private def tableDir(ident: Identifier): Path =
    ident.name().split("@") match {
      case Array(t, b) =>
        val base = nsDir(ident.namespace()).resolve(t)
        val bdir = Branch.branchDir(base, b)
        // `@` refs share one namespace: a branch if one exists, else an
        // immutable tag ([[Tag]] — `t@r` reads the pinned snapshot);
        // neither existing falls through to the branch dir so the caller
        // raises the ordinary no-such-table error
        if (!Files.exists(bdir.resolve("_manifest")) &&
            Files.exists(Tag.tagDir(base, b).resolve("_manifest")))
          Tag.tagDir(base, b)
        else bdir
      case _ => nsDir(ident.namespace()).resolve(ident.name())
    }

  // ----- tables -----

  /** SHALLOW CLONE: create `ident` as a metadata-only copy of the source
    * manifest `src` (taken from `srcDir`) — zero data movement, the
    * Delta/Iceberg table-branching story. The clone's manifest carries the
    * source's schema, entries and user props plus a `cloneSource` link;
    * reads resolve absent files through the chain
    * ([[Manifest.resolveChain]]), copy-on-write ops rewrite locally and
    * drop the reference, so the clone diverges file-by-file without ever
    * touching the source. History starts fresh at the clone point, so the
    * props are [[Commits.forked]]. */
  private[graft] def shallowClone(ident: Identifier, src: Manifest,
      srcDir: Path): Unit = {
    val dir = tableDir(ident)
    if (Files.exists(dir.resolve("_manifest")))
      throw new TableAlreadyExistsException(ident)
    if (dir.toAbsolutePath == srcDir.toAbsolutePath)
      throw new IllegalArgumentException("SHALLOW CLONE: target is the source")
    Files.createDirectories(dir)
    // the ref-state props stay behind too: cloning a TAG must yield a
    // WRITABLE table pinned at the tagged state (the reproducible-
    // experiment fork), not a second immutable ref; a branch's fork
    // version is meaningless outside its parent directory
    val props = Commits.forked(src.props) - Tag.PinProp - Branch.BaseProp +
      (Manifest.CloneSourceProp -> srcDir.toAbsolutePath.toString)
    // carry the SOURCE's segment composition: the clone's root then
    // re-publishes those segment files BY REFERENCE (resolved through the
    // clone chain at read time) — cloning a million-entry table writes one
    // ref-holding root, zero entry I/O
    Manifest.write(dir, Manifest(src.schema, src.entries, props, src.segments))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(p => Files.exists(p.resolve("_manifest")))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table = {
    // METADATA TABLES ([[MetadataTables]]): `` `t$files` `` / `` `t$snapshots` ``
    // resolve to queryable relations over t's manifest state. `$` needs
    // backticks even to parse, so the suffix never shadows a real name;
    // the base resolves through the same tableDir, so branch addressing
    // composes (`` `t@b$files` ``).
    MetadataTables.split(ident.name()) match {
      case Some((base, kind)) =>
        val dir = tableDir(Identifier.of(ident.namespace(), base))
        if (!Files.exists(dir.resolve("_manifest"))) throw new NoSuchTableException(ident)
        return new MetadataTable(dir, kind)
      case None =>
    }
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve("_manifest"))) throw new NoSuchTableException(ident)
    new ManifestTable(dir, Manifest.read(dir).get.schema)
  }

  /** SQL time travel — `SELECT … FROM graft.ns.t VERSION AS OF n`. Every
    * manifest swap archives `_manifest.v<n>` (1-based, ascending commit
    * order), so a version IS a snapshot number; the returned table reads
    * that snapshot's file list under that snapshot's schema (a pre-ALTER
    * version must read under the schema it was committed with). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve("_manifest"))) throw new NoSuchTableException(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF '$version': graft snapshot versions are integers " +
          s"(have: ${Manifest.snapshotVersions(dir).mkString(", ")})")
    }
    val m = Manifest.readSnapshot(dir, v).getOrElse(throw new IllegalArgumentException(
      s"VERSION AS OF $v: no such snapshot at $dir " +
        s"(have: ${Manifest.snapshotVersions(dir).mkString(", ")})"))
    new ManifestTable(dir, m.schema, Some(v))
  }

  /** `TIMESTAMP AS OF t` resolves to the NEWEST snapshot committed at or
    * before `t` (Spark hands the timestamp as epoch micros) —
    * [[Commits.atOrBefore]]; millisecond granularity is the floor on local
    * filesystems. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve("_manifest"))) throw new NoSuchTableException(ident)
    val cutoffMillis = Math.floorDiv(timestampMicros, 1000L)
    val v = Commits.atOrBefore(dir, cutoffMillis).getOrElse(throw new IllegalArgumentException(
      s"TIMESTAMP AS OF: no snapshot of ${ident.name()} committed at or before " +
        java.time.Instant.ofEpochMilli(cutoffMillis)))
    val m = Manifest.readSnapshot(dir, v).getOrElse(throw new IllegalStateException(
      s"snapshot v$v listed but unreadable at $dir"))
    new ManifestTable(dir, m.schema, Some(v))
  }

  /** CREATE TABLE, optionally `PARTITIONED BY (…)` with identity columns
    * or Iceberg-style transforms (`years/months/days/hours(ts)`,
    * `bucket(n, col)`). Partitioning is a CLUSTERING contract (see
    * [[Manifest.PartitionColsProp]]): every subsequent write
    * range-clusters on the transform's SOURCE columns, so zone maps prune
    * predicates on those columns file-by-file. For the time transforms
    * this is sound and strictly finer than the declared granularity —
    * they are MONOTONE in their source column, so value-clustering
    * refines day/month clustering and a `ts` range predicate prunes the
    * same file subset the transform would give, without the user deriving
    * a day column. For `bucket(n, col)` value-clustering serves the same
    * goal (bounded files per point key) while keeping zone-map and bloom
    * pruning on `col` — hash-scattering would defeat both. The DECLARED
    * transforms persist verbatim ([[Manifest.PartitionTransformsProp]])
    * so DESCRIBE / SHOW CREATE reproduce the user's DDL. */
  /** DDL-tier column features Spark gates on a catalog capability:
    * `GENERATED ALWAYS AS (expr)` and `GENERATED [ALWAYS|BY DEFAULT] AS
    * IDENTITY` — Spark validates the declarations (determinism, type
    * match, no identity+default combination) and hands them to the
    * v2-`Column` [[createTable]] overload. */
  override def capabilities()
    : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCatalogCapability._
    java.util.EnumSet.of(SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      SUPPORT_COLUMN_DEFAULT_VALUE)
  }

  /** The overload SQL DDL actually reaches: generation expressions and
    * identity specs ride the v2 `Column` objects (the default
    * `TableCatalog` bridge to the StructType overload DROPS them — a
    * catalog that claims the capabilities must read them here). */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val gens = columns.collect {
      case c if c.generationExpression != null => c.name -> c.generationExpression
    }.toMap
    val ids = columns.collect {
      case c if c.identityColumnSpec != null =>
        if (c.dataType != LongType && c.dataType != IntegerType)
          throw new UnsupportedOperationException(
            s"IDENTITY column ${c.name}: only BIGINT/INT supported, " +
              s"got ${c.dataType.simpleString}")
        val s = c.identityColumnSpec
        if (s.getStep == 0) throw new IllegalArgumentException(
          s"IDENTITY column ${c.name}: INCREMENT BY must be non-zero")
        c.name -> Manifest.IdentitySpec(s.getStart, s.getStep, s.isAllowExplicitInsert)
    }.toMap
    val defaults = columns.collect {
      case c if c.defaultValue != null =>
        val sql = Option(c.defaultValue.getSql).getOrElse(
          throw new UnsupportedOperationException(
            s"DEFAULT for column ${c.name}: only SQL-expressed defaults " +
              "are supported"))
        // fold NOW: a non-constant or non-castable default fails the
        // CREATE, never a future INSERT
        Manifest.foldDefault(sql, c.dataType, c.name)
        c.name -> sql
    }.toMap
    val schema = StructType(columns.map { c =>
      val md = Option(c.metadataInJSON())
        .map(org.apache.spark.sql.types.Metadata.fromJson)
        .getOrElse(org.apache.spark.sql.types.Metadata.empty)
      val f = StructField(c.name, c.dataType, c.nullable, md)
      Option(c.comment()).map(f.withComment).getOrElse(f)
    })
    createWithContracts(ident, schema, partitions, properties, gens, ids, defaults)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    // programmatic path (no SQL DDL): accept field-metadata declarations
    import org.apache.spark.sql.catalyst.util.{GeneratedColumn, IdentityColumn}
    val gens = schema.fields.collect {
      case f if GeneratedColumn.isGeneratedColumn(f) =>
        f.name -> GeneratedColumn.getGenerationExpression(f).get
    }.toMap
    val ids = schema.fields.collect {
      case f if IdentityColumn.isIdentityColumn(f) =>
        val s = IdentityColumn.getIdentityInfo(f).get
        f.name -> Manifest.IdentitySpec(s.getStart, s.getStep, s.isAllowExplicitInsert)
    }.toMap
    val plain = StructType(schema.fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove(GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY)
        .remove(IdentityColumn.IDENTITY_INFO_START)
        .remove(IdentityColumn.IDENTITY_INFO_STEP)
        .remove(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)
      f.copy(metadata = mb.build())
    })
    createWithContracts(ident, plain, partitions, properties, gens, ids)
  }

  /** Shared CREATE: generated/identity declarations become TABLE contracts
    * (manifest props), so the stored schema is plain — the manifest codec
    * never round-trips Spark metadata. Each generated column also
    * auto-registers a CHECK property pinning the invariant
    * (`col <=> CAST(expr AS t)`): explicit inserts validate per row, and
    * the existing CHECK-reference guards block renaming either the column
    * or its sources from under the stored expression. */
  private def createWithContracts(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String],
      gens: Map[String, String], ids: Map[String, Manifest.IdentitySpec],
      defaults: Map[String, String] = Map.empty): Table = {
    val dir = tableDir(ident)
    if (Files.exists(dir.resolve("_manifest")))
      throw new TableAlreadyExistsException(ident)
    val (partCols, transforms) = GraftCatalog.validateTransforms(schema, partitions)
    val genProps = gens.map { case (c, sql) => (Manifest.GenColPrefix + c) -> sql }
    val genChecks = gens.map { case (c, sql) =>
      val t = schema.fields.find(_.name == c).get.dataType.sql
      (Constraints.CheckPropPrefix + "gen_" + c) -> s"`$c` <=> CAST(($sql) AS $t)"
    }
    val idProps = ids.map { case (c, spec) => (Manifest.IdColPrefix + c) -> spec.render }
    val defProps = defaults.map { case (c, sql) => (Manifest.DefColPrefix + c) -> sql }
    Files.createDirectories(dir)
    val props = GraftCatalog.partitionProps(partCols, transforms) ++
      GraftCatalog.userProps(properties.asScala.toMap) ++
      genProps ++ genChecks ++ idProps ++ defProps
    // a CHECK property that cannot bind is rejected at CREATE, never
    // stored to fail every future write
    props.foreach { case (k, v) => Constraints.validate(schema, k, v) }
    Manifest.write(dir, Manifest(schema, Seq.empty, props)) // schema-only, zero rows
    new ManifestTable(dir, schema)
  }

  /** `ALTER TABLE ADD COLUMN` — the most common DDL after CREATE — as a
    * METADATA-ONLY operation: the widened schema is published through the
    * same atomic manifest swap every write uses, and no data file is
    * rewritten. Each manifest entry records how many leading columns its
    * file physically stores, so readers NULL-fill the new tail columns of
    * pre-alter files (the same widen-and-NULL-fill semantics as the
    * `q_schema_evolution` mergeSchema read). The swap archives a snapshot,
    * so pre-alter versions stay readable under their old schema.
    *
    * `ALTER TABLE RENAME COLUMN` is metadata-only for the same structural
    * reason ADD COLUMN is: data files are positional TSV that never store
    * column names, so a rename touches only the manifest — the schema
    * line, the per-entry stats keys (zone maps / blooms stay valid under
    * the new name), and the sink's own column-list properties
    * (partitioning contract, bloom config). Archived snapshots keep their
    * commit-time schema, so time travel reads the OLD name.
    *
    * `ALTER TABLE DROP COLUMN` is metadata-only too: each entry's layout
    * generalizes from "schema prefix of width `cols`" to an explicit
    * per-entry cell map ([[ManifestFile.colMap]]) that skips the dropped
    * cell, the column's stats and blooms purge (so a later re-ADD of the
    * same name neither resurrects old values nor prunes on stale ranges),
    * and archived snapshots keep the column on time travel. Dropping a
    * partition column or a CHECK-referenced column is rejected.
    *
    * Only nullable, end-appended, codec-supported ADD COLUMN is accepted.
    * Everything that would need a data rewrite or could silently corrupt
    * old files — type changes (including narrowing), NOT NULL adds,
    * positioned adds — is rejected explicitly rather than
    * half-supported. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    // the schema RMW shares the commit lock, so an append landing mid-ALTER
    // is never un-published
    ManifestLock.withLock(tableDir(ident)) {
    val dir = tableDir(ident)
    ManifestTable.assertWritable(dir, "ALTER TABLE")
    val m = Manifest.read(dir).getOrElse(throw new NoSuchTableException(ident))
    // every change folds over the WHOLE manifest (schema + entries +
    // props) and publishes in one atomic swap. SET/UNSET TBLPROPERTIES
    // user keys store under the `tbl.` prefix so they can never collide
    // with the sink's own props (partitionCols, epoch watermarks).
    val next = changes.foldLeft(m) { (cur, change) =>
      change match {
        case set: TableChange.SetProperty =>
          val p = GraftCatalog.userProps(Map(set.property() -> set.value()))
          p.foreach { case (k, v) => Constraints.validate(cur.schema, k, v) }
          cur.copy(props = cur.props ++ p)
        case rm: TableChange.RemoveProperty =>
          cur.copy(props = cur.props - (GraftCatalog.TblPropPrefix + rm.property()))
        case add: TableChange.AddColumn =>
          if (add.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ALTER TABLE ADD COLUMN: nested fields not supported")
          val colName = add.fieldNames()(0)
          if (cur.schema.fieldNames.exists(_.equalsIgnoreCase(colName)))
            throw new IllegalArgumentException(
              s"ALTER TABLE ADD COLUMN: column $colName already exists")
          if (!add.isNullable)
            throw new UnsupportedOperationException(
              s"ALTER TABLE ADD COLUMN: $colName must be nullable — existing " +
                "rows NULL-fill the new column")
          if (add.position() != null)
            throw new UnsupportedOperationException(
              "ALTER TABLE ADD COLUMN: only appending at the end is supported — " +
                "existing files identify their columns as a schema prefix")
          if (!Manifest.supportedType(add.dataType()))
            throw new UnsupportedOperationException(
              s"ALTER TABLE ADD COLUMN: type ${add.dataType().simpleString} not " +
                "supported by this sink")
          if (add.defaultValue() != null)
            throw new UnsupportedOperationException(
              s"ALTER TABLE ADD COLUMN: $colName cannot carry a DEFAULT — " +
                "existing rows NULL-fill a new column (the Delta rule); ADD " +
                "the column, then ALTER COLUMN … SET DEFAULT for future inserts")
          cur.copy(schema =
            cur.schema.add(StructField(colName, add.dataType(), nullable = true)))
        case ud: TableChange.UpdateColumnDefaultValue =>
          if (ud.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ALTER COLUMN SET DEFAULT: nested fields not supported")
          val idx = cur.schema.fieldNames.indexWhere(
            _.equalsIgnoreCase(ud.fieldNames()(0)))
          if (idx < 0)
            throw new IllegalArgumentException(
              s"ALTER COLUMN SET DEFAULT: no column ${ud.fieldNames()(0)} in " +
                s"(${cur.schema.fieldNames.mkString(", ")})")
          val f = cur.schema.fields(idx)
          if (Manifest.generatedCols(cur.props).keys.exists(_.equalsIgnoreCase(f.name)) ||
              Manifest.identityCols(cur.props).keys.exists(_.equalsIgnoreCase(f.name)))
            throw new IllegalArgumentException(
              s"ALTER COLUMN SET DEFAULT: ${f.name} is a generated/identity " +
                "column — its values are computed, not defaulted")
          val sql = Option(ud.newCurrentDefault()).flatMap(d => Option(d.getSql))
            .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty))
          sql match {
            case Some(s) => // SET DEFAULT: fold now so a bad constant fails the DDL
              Manifest.foldDefault(s, f.dataType, f.name)
              cur.copy(props = cur.props + ((Manifest.DefColPrefix + f.name) -> s))
            case None => // DROP DEFAULT
              cur.copy(props = cur.props.filterNot(
                _._1.equalsIgnoreCase(Manifest.DefColPrefix + f.name)))
          }
        case rn: TableChange.RenameColumn =>
          if (rn.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ALTER TABLE RENAME COLUMN: nested fields not supported")
          val idx = cur.schema.fieldNames.indexWhere(
            _.equalsIgnoreCase(rn.fieldNames()(0)))
          if (idx < 0)
            throw new IllegalArgumentException(
              s"ALTER TABLE RENAME COLUMN: no column ${rn.fieldNames()(0)} in " +
                s"(${cur.schema.fieldNames.mkString(", ")})")
          val from = cur.schema.fieldNames(idx)
          val to = rn.newName()
          if (!to.matches("\\w+"))
            throw new UnsupportedOperationException(
              s"ALTER TABLE RENAME COLUMN: $to is not a manifest-codec-safe " +
                "identifier ([A-Za-z0-9_]+)")
          if (cur.schema.fieldNames.exists(_.equalsIgnoreCase(to)))
            throw new IllegalArgumentException(
              s"ALTER TABLE RENAME COLUMN: column $to already exists")
          // a CHECK property stores SQL text — renaming a column it
          // references would leave a constraint that can never bind again
          // (every future write would fail); reject with the fix spelled out
          cur.props.foreach { case (k, sql) =>
            if (k.startsWith(Constraints.CheckPropPrefix) &&
              Constraints.referencedColumns(sql).exists(_.equalsIgnoreCase(from)))
              throw new IllegalArgumentException(
                s"ALTER TABLE RENAME COLUMN: $from is referenced by CHECK " +
                  s"constraint ${k.stripPrefix(GraftCatalog.TblPropPrefix)} " +
                  s"('$sql') — UNSET the property first, rename, then SET it " +
                  "against the new name")
          }
          def renKey[V](mp: Map[String, V]): Map[String, V] =
            mp.map { case (k, v) => (if (k == from) to else k) -> v }
          cur.copy(
            schema = StructType(cur.schema.fields.map(f =>
              if (f.name == from) f.copy(name = to) else f)),
            entries = cur.entries.map { e =>
              e.copy(stats = e.stats.copy(
                ranges = renKey(e.stats.ranges),
                incomplete = e.stats.incomplete.map(c => if (c == from) to else c),
                strRanges = renKey(e.stats.strRanges))
                .withBlooms(renKey(e.stats.bloomRefs)) // refs, not payloads —
                .withNdv(renKey(e.stats.ndvRefs))) // sidecar pointers survive
            },
            props = cur.props.map {
              case (k, v) if k == Manifest.PartitionColsProp ||
                k == Manifest.BloomColsProp || k == Manifest.NdvColsProp =>
                k -> v.split(",").map(_.trim).filter(_.nonEmpty)
                  .map(c => if (c == from) to else c).mkString(",")
              // identity contract + high-water mark follow the rename
              // (generated columns can't reach here — their CHECK
              // property's reference guard above refuses first)
              case (k, v) if k == Manifest.IdColPrefix + from =>
                (Manifest.IdColPrefix + to) -> v
              case (k, v) if k == Manifest.IdHwmPrefix + from =>
                (Manifest.IdHwmPrefix + to) -> v
              case (k, v) if k == Manifest.DefColPrefix + from =>
                (Manifest.DefColPrefix + to) -> v
              case kv => kv
            })
        case del: TableChange.DeleteColumn =>
          if (del.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ALTER TABLE DROP COLUMN: nested fields not supported")
          val idx = cur.schema.fieldNames.indexWhere(
            _.equalsIgnoreCase(del.fieldNames()(0)))
          if (idx < 0)
            throw new IllegalArgumentException(
              s"ALTER TABLE DROP COLUMN: no column ${del.fieldNames()(0)} in " +
                s"(${cur.schema.fieldNames.mkString(", ")})")
          val from = cur.schema.fieldNames(idx)
          if (cur.schema.length == 1)
            throw new UnsupportedOperationException(
              "ALTER TABLE DROP COLUMN: cannot drop the table's only column")
          // a CHECK constraint referencing the column would fail every
          // future write once it can no longer bind — reject with the fix.
          // Auto-registered generation checks are exempt: they live and die
          // with their generated column (the guard below owns that story).
          val autoGenChecks = Manifest.generatedCols(cur.props).keySet
            .map(g => (Constraints.CheckPropPrefix + "gen_" + g).toLowerCase)
          cur.props.foreach { case (k, sql) =>
            if (k.startsWith(Constraints.CheckPropPrefix) &&
              !autoGenChecks.contains(k.toLowerCase) &&
              Constraints.referencedColumns(sql).exists(_.equalsIgnoreCase(from)))
              throw new IllegalArgumentException(
                s"ALTER TABLE DROP COLUMN: $from is referenced by CHECK " +
                  s"constraint ${k.stripPrefix(GraftCatalog.TblPropPrefix)} " +
                  s"('$sql') — UNSET the property first")
          }
          // the partition-clustering contract names layout columns every
          // write depends on — dropping one silently voids the contract
          if (cur.props.get(Manifest.PartitionColsProp)
            .exists(_.split(",").exists(_.equalsIgnoreCase(from))))
            throw new IllegalArgumentException(
              s"ALTER TABLE DROP COLUMN: $from is a declared partition " +
                "column — repartition the table (CREATE + INSERT) instead")
          // a generated column computing FROM this column would dangle —
          // every future insert would fail resolving the stored expression
          Manifest.generatedCols(cur.props).foreach { case (g, sql) =>
            if (!g.equalsIgnoreCase(from) &&
              Constraints.referencedColumns(sql).exists(_.equalsIgnoreCase(from)))
              throw new IllegalArgumentException(
                s"ALTER TABLE DROP COLUMN: $from is a source of generated " +
                  s"column $g (GENERATED ALWAYS AS ($sql)) — drop $g first")
          }
          // METADATA-ONLY drop: no data file is rewritten. Each entry's
          // layout becomes an explicit cell map skipping the dropped cell
          // (normalized back to the prefix form when the drop was the
          // tail), and the column's stats/blooms purge so a later re-ADD
          // of the same name can neither resurrect old values (the map no
          // longer covers them) nor prune on stale ranges.
          val oldW = cur.schema.length
          cur.copy(
            schema = StructType(cur.schema.fields.patch(idx, Nil, 1)),
            entries = cur.entries.map { e =>
              val eff = (0 until oldW).map(e.physIdx).patch(idx, Nil, 1)
              val trimmed = eff.reverse.dropWhile(_ < 0).reverse
              val (nCols, nMap) =
                if (trimmed.zipWithIndex.forall { case (p, i) => p == i })
                  (trimmed.length, None) // still a schema prefix
                else (e.cols, Some(trimmed))
              e.copy(cols = nCols, colMap = nMap,
                stats = e.stats.copy(
                  ranges = e.stats.ranges - from,
                  incomplete = e.stats.incomplete - from,
                  strRanges = e.stats.strRanges - from)
                  .withBlooms(e.stats.bloomRefs - from) // refs, not payloads
                  .withNdv(e.stats.ndvRefs - from))
            },
            props = cur.props.map {
              case (k, v) if k == Manifest.BloomColsProp ||
                k == Manifest.NdvColsProp =>
                k -> v.split(",").map(_.trim)
                  .filter(c => c.nonEmpty && !c.equalsIgnoreCase(from))
                  .mkString(",")
              case kv => kv
            }.filterNot { case (k, _) => // dropped column's own contracts go
              k.equalsIgnoreCase(Manifest.GenColPrefix + from) ||
              k.equalsIgnoreCase(Manifest.IdColPrefix + from) ||
              k.equalsIgnoreCase(Manifest.IdHwmPrefix + from) ||
              k.equalsIgnoreCase(Manifest.DefColPrefix + from) ||
              k.equalsIgnoreCase(Constraints.CheckPropPrefix + "gen_" + from)
            })
        case up: TableChange.UpdateColumnType =>
          if (up.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "ALTER TABLE ALTER COLUMN TYPE: nested fields not supported")
          val idx = cur.schema.fieldNames.indexWhere(
            _.equalsIgnoreCase(up.fieldNames()(0)))
          if (idx < 0)
            throw new IllegalArgumentException(
              s"ALTER TABLE ALTER COLUMN TYPE: no column ${up.fieldNames()(0)} " +
                s"in (${cur.schema.fieldNames.mkString(", ")})")
          val f = cur.schema.fields(idx)
          // METADATA-ONLY type WIDENING (the Iceberg ladder): INT → BIGINT,
          // FLOAT → DOUBLE, DECIMAL(p,s) → DECIMAL(p+,s). Sound without
          // touching a byte because the TSV codec parses cells by the
          // DECLARED type ("123" reads as long as happily as int; a float's
          // shortest-round-trip rendering parses to the double the probe
          // side widens the float to; a decimal cell re-reads unchanged
          // under more precision), zone-map ranges are stored as decimals
          // (type-agnostic, float bounds already gathered in the double
          // widening), and blooms never serve these columns — so every
          // existing stat stays VALID under the widened type. Everything
          // else (narrowing, scale changes, cross-family moves, long →
          // double which silently loses precision past 2^53) is rejected.
          import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
          val ok = (f.dataType, up.newDataType()) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case (from: DecimalType, to: DecimalType) =>
              to.precision > from.precision && to.scale == from.scale
            case _ => false
          }
          if (!ok)
            throw new UnsupportedOperationException(
              s"ALTER TABLE ALTER COLUMN TYPE: ${f.name} " +
                s"${f.dataType.simpleString} → ${up.newDataType().simpleString} " +
                "is not a supported widening (INT → BIGINT, FLOAT → DOUBLE " +
                "and DECIMAL precision growth at the same scale are " +
                "metadata-only; anything else would need a rewrite or lose " +
                "precision)")
          cur.copy(schema = StructType(cur.schema.fields.updated(idx,
            f.copy(dataType = up.newDataType()))))
        case other =>
          throw new UnsupportedOperationException(
            s"ALTER TABLE: unsupported change $other")
      }
    }
    // enabling rowTracking via SET TBLPROPERTIES assigns every existing
    // entry its base in this same DDL commit (no-op otherwise)
    Manifest.write(dir, next.copy(
      props = Manifest.sealRowTracking(next.props, next.entries)))
    new ManifestTable(dir, next.schema)
    }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve("_manifest"))) false
    else {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!Files.exists(tableDir(oldIdent).resolve("_manifest")))
      throw new NoSuchTableException(oldIdent)
    if (Files.exists(tableDir(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(tableDir(newIdent).getParent)
    val from = tableDir(oldIdent).toAbsolutePath
    val to = tableDir(newIdent)
    Files.move(from, to)
    // nested refs (branches, tags) record their PARENT as an absolute
    // cloneSource path — re-point them at the moved directory, or every
    // ref's data-file resolution would chase the old path and break.
    // TEXTUAL surgery on the props line (current manifest + archived
    // snapshots): parsing the ref manifest here would itself resolve
    // segments through the dead chain.
    val oldTok = s"${Manifest.CloneSourceProp}=${from}"
    val newTok = s"${Manifest.CloneSourceProp}=${to.toAbsolutePath}"
    for (name <- Branch.list(to) ++ Tag.list(to)) {
      val rdir =
        if (Files.exists(Branch.branchDir(to, name).resolve("_manifest")))
          Branch.branchDir(to, name)
        else Tag.tagDir(to, name)
      val s2 = Files.list(rdir)
      try s2.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_manifest"))
        .foreach { mf =>
          val txt = Files.readString(mf)
          if (txt.contains(oldTok))
            Files.writeString(mf, txt.replace(oldTok, newTok))
        }
      finally s2.close()
    }
    Manifest.clearReadCache()
  }

  // ----- namespaces -----

  override def defaultNamespace(): Array[String] = Array("default")

  override def listNamespaces(): Array[Array[String]] = {
    val s = Files.list(root)
    try s.iterator().asScala
      .filter(Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally s.close()
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (Files.isDirectory(nsDir(namespace))) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (Files.isDirectory(nsDir(namespace))) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    val _ = Files.createDirectories(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!Files.isDirectory(d)) false
    else {
      val empty = { val s = Files.list(d); try !s.iterator().hasNext finally s.close() }
      if (!empty && !cascade)
        throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
      true
    }
  }

  // ----- functions -----

  /** The catalog's V2 function surface exists for ONE function: `bucket`,
    * the transform behind storage-partitioned joins. When a
    * [[ManifestScan]] reports `KeyGroupedPartitioning(bucket(n, col))`,
    * Catalyst resolves the transform against THIS catalog
    * ([[GraftBucketFunction]]); two co-bucketed manifest tables joined on
    * their bucket columns then match partition keys instead of shuffling
    * either side. Also directly callable as
    * `SELECT <catalog>.bucket(16, doc_id)`. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || Files.isDirectory(nsDir(namespace)))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}
