package graft.sources

import java.nio.file.{Files, Path}
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA TABLES over the manifest sink: a table's
  * physical state as ordinary queryable RELATIONS — joinable, filterable,
  * aggregatable SQL, where `DESCRIBE HISTORY` / `DESCRIBE DETAIL` are
  * one-shot command outputs.
  *
  *  - `` t$files ``     — one row per LIVE data file: name, physical rows,
  *    live rows (through its deletion vector), on-disk bytes, vector flag.
  *  - `` t$snapshots `` — one row per archived version: file/row counts
  *    and the commit timestamp (the atomic swap's file mtime).
  *  - `` t$refs ``      — one row per named ref: branches (kind 'branch',
  *    pinned = fork version, mutable) and tags (kind 'tag', pinned =
  *    snapshot, immutable) with their current live row counts — the
  *    SQL-composable union of SHOW BRANCHES and SHOW TAGS.
  *  - `` t$partitions `` — per-file key-range coverage of the DECLARED
  *    layout columns (PARTITIONED BY sources / CLUSTER BY spec): one row
  *    per live file × layout column with the file's zone-map range for
  *    that column, its completeness flag, and live rows. Partitioning in
  *    this sink is a clustering contract (range-distributed writes +
  *    zone-map pruning), so "which keys live where" IS the per-file range
  *    map — the Iceberg `partitions` table's question answered in this
  *    engine's own terms. Values render in the manifest's storage form
  *    (numeric/date columns as their zone-map decimal encoding, strings
  *    verbatim). Empty when the table declares no layout.
  *  - `` t$indexes ``   — one row per secondary index (text / vector) with
  *    its column, storage dir, and LIVE FRESHNESS: `fresh` recomputes the
  *    digest against the current manifest, so the relation answers "will
  *    the next search prune?" — the monitoring question an index tier
  *    exists to answer. A BY PARTITION vector index additionally yields
  *    one `vector-part` row per partition VALUE (its k, indexed file
  *    count, and PER-PARTITION freshness — only partitions whose file
  *    set changed go stale, matching the partition-scoped REFRESH), so
  *    operators monitor the sub-geometries they actually serve. A text
  *    index on a partitioned table yields the mirror `text-part` rows
  *    (r15): per-partition freshness off the build's `parts/`
  *    attribution sidecar, DV drift surfacing per partition. Empty
  *    when no index is published.
  *
  * `$` needs backticks even to parse, so the suffix can never shadow a
  * real table name; branch addressing composes (`` `t@b$files` `` reads
  * the branch's metadata). Planning is driver-side manifest metadata —
  * O(#files) like every other planner path here, zero data-file opens;
  * at 100 TB `` t$files `` is a million-row metadata scan, not a table
  * scan (Iceberg's own metadata tables read manifests the same way). */
object MetadataTables {
  val Kinds = Set("files", "snapshots", "refs", "properties", "partitions",
    "indexes")

  /** `name$kind` → (name, kind) when kind is a known metadata suffix. */
  def split(ident: String): Option[(String, String)] =
    ident.lastIndexOf('$') match {
      case -1 => None
      case i =>
        val kind = ident.substring(i + 1)
        if (Kinds(kind) && i > 0) Some((ident.substring(0, i), kind)) else None
    }

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("has_dv", BooleanType, nullable = false)))
    case "snapshots" => StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("pinned_version", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    case "properties" => StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))
    case "partitions" => StructType(Seq(
      StructField("col", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("min_value", StringType, nullable = true),
      StructField("max_value", StringType, nullable = true),
      StructField("complete", BooleanType, nullable = false),
      StructField("live_rows", LongType, nullable = false)))
    case "indexes" => StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("col", StringType, nullable = false),
      StructField("dir", StringType, nullable = false),
      StructField("fresh", BooleanType, nullable = false),
      // vector: declared anchor column + whether the PQ sidecars exist
      StructField("details", StringType, nullable = true)))
  }

  /** Materialize the rows at scan-planning time (InternalRow-shaped).
    * Metadata freshness follows statement semantics: each query plans its
    * own scan, so each sees the manifest current at ITS planning. */
  private[sources] def rows(dir: Path, kind: String): Array[Array[Any]] = kind match {
    case "files" =>
      val m = Manifest.read(dir).getOrElse(
        throw new IllegalStateException(s"metadata table: no manifest at $dir"))
      val chain = Manifest.resolveChain(dir)
      // live data files only: a 0-row entry (an empty write partition)
      // carries no physical state worth listing
      m.entries.filter(_.rows > 0).map { e =>
        val p = Manifest.resolveData(chain, e.name)
        Array[Any](UTF8String.fromString(e.name), e.rows, e.liveRows,
          if (Files.exists(p)) Files.size(p) else 0L, e.dv.isDefined)
      }.toArray
    case "snapshots" =>
      Commits.history(dir).map { case (v, files, rows, millis) =>
        Array[Any](v, files, rows, millis * 1000L) // epoch micros
      }.toArray
    case "refs" =>
      val branches = Branch.list(dir).flatMap { b =>
        Manifest.read(Branch.branchDir(dir, b)).map { m =>
          Array[Any](UTF8String.fromString(b), UTF8String.fromString("branch"),
            m.props.get(Branch.BaseProp).map(_.toInt).getOrElse(0),
            m.entries.map(_.liveRows).sum)
        }
      }
      val tags = Tag.list(dir).flatMap { t =>
        Manifest.read(Tag.tagDir(dir, t)).map { m =>
          Array[Any](UTF8String.fromString(t), UTF8String.fromString("tag"),
            m.props.get(Tag.PinProp).map(_.toInt).getOrElse(0),
            m.entries.map(_.liveRows).sum)
        }
      }
      (branches ++ tags).toArray
    case "properties" =>
      // USER properties only (the SHOW TBLPROPERTIES surface, as a
      // composable relation) — engine bookkeeping (row bases, epoch
      // watermarks, MV metadata) stays internal
      val m = Manifest.read(dir).getOrElse(
        throw new IllegalStateException(s"metadata table: no manifest at $dir"))
      m.props.toSeq
        .collect { case (k, v) if k.startsWith(GraftCatalog.TblPropPrefix) =>
          (k.stripPrefix(GraftCatalog.TblPropPrefix), v) }
        .sortBy(_._1)
        .map { case (k, v) =>
          Array[Any](UTF8String.fromString(k), UTF8String.fromString(v)) }
        .toArray
    case "partitions" =>
      val m = Manifest.read(dir).getOrElse(
        throw new IllegalStateException(s"metadata table: no manifest at $dir"))
      val cluster = Manifest.clusterByCols(m.props).getOrElse(Seq.empty).toSet
      val cols = Manifest.partitionCols(dir)
      // one row per live file × declared layout column; a column with no
      // recorded stats for a file still lists (NULL range, incomplete) —
      // absence of pruning metadata is itself reportable state
      m.entries.filter(_.rows > 0).flatMap { e =>
        cols.map { c =>
          // string bounds are stored base64 over raw UTF-8 bytes — decode
          // for the relation (a truncation-widened upper bound can be a
          // non-UTF-8 byte string; fromBytes carries it verbatim)
          val rng: Option[(UTF8String, UTF8String)] =
            e.stats.strRanges.get(c).map { case (lo, hi) =>
              (UTF8String.fromBytes(ColumnStats.unb64(lo)),
                UTF8String.fromBytes(ColumnStats.unb64(hi)))
            }.orElse(
              e.stats.ranges.get(c).map { case (lo, hi) =>
                (UTF8String.fromString(lo.bigDecimal.toPlainString),
                  UTF8String.fromString(hi.bigDecimal.toPlainString)) })
          Array[Any](
            UTF8String.fromString(c),
            UTF8String.fromString(if (cluster(c)) "cluster" else "partition"),
            UTF8String.fromString(e.name),
            rng.map(_._1).orNull,
            rng.map(_._2).orNull,
            rng.isDefined && !e.stats.incomplete.contains(c),
            e.liveRows)
        }
      }.toArray
    case "indexes" =>
      val m = Manifest.read(dir).getOrElse(
        throw new IllegalStateException(s"metadata table: no manifest at $dir"))
      val curDigest = ManifestTable.digestOf(m) // same contract both kinds
      val curDvDigest = ManifestTable.dvDigestOf(m)
      m.props.toSeq.sortBy(_._1).collect {
        case (k, v) if k.startsWith(TextIndex.PropPrefix) =>
          val p = TextIndex.parseProp(k, v)
          // `fresh` is serving admissibility (names-only digest — DVs
          // never flip it); DV-only drift (ranking statistics counting
          // dead rows until REFRESH re-derives the touched files)
          // surfaces in details so operators see the catch-up debt
          val drifted = p.dvDigest.exists(_ != curDvDigest)
          // a BY PARTITION index reports its routing column like the
          // vector tier's `by=` (r16)
          val details = (p.partCol.map(pc => s"by=$pc") ++
            (if (drifted) Some("dv_drift=true") else None)).mkString(" ")
          Array[Any](UTF8String.fromString("text"),
            UTF8String.fromString(k.stripPrefix(TextIndex.PropPrefix)),
            UTF8String.fromString(p.idxName), p.digest == curDigest,
            if (details.isEmpty) null
            else UTF8String.fromString(details)) +:
            textPartRows(dir, m, p.digest == curDigest, drifted,
              k.stripPrefix(TextIndex.PropPrefix), p.idxName)
        case (k, v) if k.startsWith(VectorIndex.PropPrefix) =>
          val p = VectorIndex.parseProp(v)
          val pq = java.nio.file.Files.exists(
            dir.resolve(p.idxName).resolve("pqcb"))
          // non-default build knobs ride the details column so an
          // operator reads the index's POLICY off t$indexes; dv drift
          // (sidecar rows still counting deletion-vectored vec_ids —
          // rerank-budget waste until REFRESH) is catch-up debt, not a
          // freshness flip, same as the text rule
          val extras = Seq(
            p.lists.map(l => s"lists=$l"),
            p.sample.map(s => s"sample=$s"),
            Some(p.coarse).filter(_ != 2).map(c => s"coarse=$c"),
            p.partCol.map(pc => s"by=$pc"),
            p.dvDigest.filter(_ != curDvDigest).map(_ => "dv_drift=true")
          ).flatten
          // a legacy-assigner index reports stale: serving treats it so
          Array[Any](UTF8String.fromString("vector"),
            UTF8String.fromString(k.stripPrefix(VectorIndex.PropPrefix)),
            UTF8String.fromString(p.idxName), p.isCurrent(curDigest),
            UTF8String.fromString(
              (s"anchors=${p.idCol} pq=$pq" +: extras).mkString(" "))) +:
            vectorPartRows(dir, m, curDigest, curDvDigest,
              k.stripPrefix(VectorIndex.PropPrefix), p)
      }.flatten.toArray
  }

  /** The per-partition rows of a text index on a PARTITIONED table (r15
    * — closing the tier asymmetry: freshness rows were vector-only): one
    * `text-part` row per partition VALUE with its indexed file count and
    * PER-PARTITION freshness — a partition is stale iff its OWN file set
    * changed (new unindexed files landed in it, or indexed files died),
    * matching the file-scoped refresh's attribution. DV drift follows
    * the text tier's names-only rule: it never flips freshness, it
    * surfaces as `dv_drift=true` in the partition's details. Reads the
    * build's `parts/` attribution sidecar (O(#files) rows) plus, when
    * unindexed files exist, one part-column-projected scan of ONLY those
    * files; a pre-r15 index has no sidecar and yields no rows until its
    * next REFRESH derives one. */
  private def textPartRows(dir: Path, m: Manifest, fresh: Boolean,
      dvDrifted: Boolean, colName: String, idxName: String)
      : Seq[Array[Any]] = {
    val idxDir = dir.resolve(idxName)
    val partsPath = idxDir.resolve("parts")
    if (!java.nio.file.Files.exists(partsPath)) return Seq.empty
    val pc = Manifest.partitionCols(dir) match {
      case Seq(one) => one
      case _ => return Seq.empty
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val fileParts = spark.read.parquet(partsPath.toString).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val filesByPart = fileParts.groupBy(_._2).map { case (pv, fs) =>
      pv -> fs.map(_._1).toSet
    }
    val live = m.entries.filter(_.rows > 0).map(_.name).toSet
    val indexed = fileParts.map(_._1).toSet
    val newFiles = (live -- indexed).toSeq.sorted
    val newParts: Set[String] =
      if (newFiles.isEmpty) Set.empty
      else ManifestTable.scanFiles(spark, dir, newFiles)
        .select(org.apache.spark.sql.functions.col(pc).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
    // dv-drifted files surface in THEIR partitions' details (catch-up
    // debt attribution, off the metadata-class coverage sidecar)
    val driftedFiles: Set[String] =
      if (!dvDrifted) Set.empty
      else {
        val coveredPath = idxDir.resolve("covered")
        if (java.nio.file.Files.exists(coveredPath))
          spark.read.parquet(coveredPath.toString).collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap match {
              case rec => m.entries.filter(e => e.rows > 0 &&
                rec.contains(e.name) &&
                rec(e.name) != e.dv.map(_._1).orNull).map(_.name).toSet
            }
        else m.entries.filter(e => e.rows > 0 && e.dv.isDefined)
          .map(_.name).toSet
      }
    (filesByPart.keySet ++ newParts).toSeq.sorted.map { pv =>
      val files = filesByPart.getOrElse(pv, Set.empty)
      val partFresh = fresh || (!newParts(pv) && files.subsetOf(live))
      val pDrift = files.exists(driftedFiles)
      Array[Any](UTF8String.fromString("text-part"),
        UTF8String.fromString(colName),
        UTF8String.fromString(idxName), partFresh,
        UTF8String.fromString(s"part=$pv files=${files.count(live)}" +
          (if (pDrift) " dv_drift=true" else "")))
    }
  }

  /** The per-partition rows of a BY PARTITION vector index — one
    * `vector-part` row per partition VALUE with its sub-geometry's k,
    * indexed file count, and PER-PARTITION freshness: a partition is
    * stale iff the whole index is stale AND its own file set changed
    * (dead indexed files, new unindexed files, or a new partition value
    * entirely) — exactly the partitions the partition-scoped REFRESH
    * would retrain. Reads the cents/posts sidecars (Σ k_p + Σ postings
    * rows — metadata-class) plus, when unindexed files exist, one
    * part-column-projected scan of ONLY those files (the refresh path's
    * own attribution read, bounded by churn). */
  private def vectorPartRows(dir: Path, m: Manifest, curDigest: String,
      curDvDigest: String, colName: String,
      p: VectorIndex.Prop): Seq[Array[Any]] =
    p.partCol match {
      case None => Seq.empty
      case Some(pc) =>
        val spark = org.apache.spark.sql.SparkSession.active
        val idxDir = dir.resolve(p.idxName)
        if (!java.nio.file.Files.exists(idxDir.resolve("cents")))
          return Seq.empty
        // dv-drifted files make THEIR partitions stale (the partition-
        // scoped refresh would retrain exactly those slices); attribution
        // reads the metadata-class coverage sidecar, and only when the
        // dv digest actually diverged
        val driftedFiles: Set[String] =
          if (p.dvDigest.forall(_ == curDvDigest)) Set.empty
          else {
            val coveredPath = idxDir.resolve("covered")
            if (java.nio.file.Files.exists(coveredPath))
              spark.read.parquet(coveredPath.toString).collect()
                .map(r => r.getString(0) -> r.getString(1)).toMap match {
                  case rec => m.entries.filter(e => e.rows > 0 &&
                    rec.contains(e.name) &&
                    rec(e.name) != e.dv.map(_._1).orNull).map(_.name).toSet
                }
            else m.entries.filter(e => e.rows > 0 && e.dv.isDefined)
              .map(_.name).toSet
          }
        val kByPart = spark.read.parquet(idxDir.resolve("cents").toString)
          .groupBy("part").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val postRows = spark.read.parquet(idxDir.resolve("posts").toString)
          .select("part", "file").distinct().collect()
          .map(r => (r.getString(0), r.getString(1)))
        val live = m.entries.filter(_.rows > 0).map(_.name).toSet
        val filesByPart = postRows.groupBy(_._1).map { case (pv, fs) =>
          pv -> fs.map(_._2).toSet
        }
        val indexed = postRows.map(_._2).toSet
        val newFiles = (live -- indexed).toSeq.sorted
        val newParts: Set[String] =
          if (newFiles.isEmpty) Set.empty
          else ManifestTable.scanFiles(spark, dir, newFiles)
            .select(org.apache.spark.sql.functions.col(pc).cast("string"))
            .distinct().collect().map(_.getString(0)).toSet
        val allStale = p.version != VectorIndex.AssignVersion
        val fresh = p.isCurrent(curDigest)
        (kByPart.keySet ++ newParts).toSeq.sorted.map { pv =>
          val files = filesByPart.getOrElse(pv, Set.empty)
          val partFresh = (fresh || (!allStale && !newParts(pv) &&
            files.subsetOf(live))) && !files.exists(driftedFiles)
          Array[Any](UTF8String.fromString("vector-part"),
            UTF8String.fromString(colName),
            UTF8String.fromString(p.idxName), partFresh,
            UTF8String.fromString(s"part=$pv k=${kByPart.getOrElse(pv, 0L)} " +
              s"files=${files.count(live)}"))
        }
    }
}

/** The V2 table for one metadata relation — batch-read only (writes to a
  * metadata table are nonsense and refused by the missing capability). */
class MetadataTable(dir: Path, kind: String) extends Table with SupportsRead {
  override def name(): String = s"${dir.getFileName}$$$kind"
  override def schema(): StructType = MetadataTables.schemaOf(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new MetadataScan(dir, kind)
    }
}

private[sources] class MetadataScan(dir: Path, kind: String) extends Scan with Batch {
  override def readSchema(): StructType = MetadataTables.schemaOf(kind)
  override def toBatch: Batch = this
  override def description(): String = s"GraftMetadataScan dir=$dir kind=$kind"
  override def planInputPartitions(): Array[InputPartition] =
    Array(MetadataRowsPartition(MetadataTables.rows(dir, kind)))
  override def createReaderFactory(): PartitionReaderFactory =
    MetadataReaderFactory
}

/** The planned rows ride the partition into the (single) task — metadata
  * volume, not data volume. */
private[sources] case class MetadataRowsPartition(rows: Array[Array[Any]])
  extends InputPartition

private[sources] object MetadataReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[MetadataRowsPartition].rows.iterator
      private var cur: Array[Any] = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = InternalRow.fromSeq(cur.toIndexedSeq)
      override def close(): Unit = ()
    }
}
