package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types.StructType

/** THE COMMIT LOG of a manifest table (Delta's idea of a table as a trail
  * of commits): every manifest swap archives `_manifest.v<n>`, so version
  * n IS commit n, and its commit time is the archived manifest's mtime —
  * written atomically by the swap that published it. Version 0 is the
  * empty table before the first commit. Every reader of the trail — the
  * batch change feed ([[ManifestTable.changes]]), the data and
  * change-feed streams ([[ManifestStream]]), `TIMESTAMP AS OF`, RESTORE,
  * `DESCRIBE HISTORY` and `` `t$snapshots` `` — reads it through here.
  *
  * CLASSIFICATION ([[classify]]). A commit is judged from its snapshot b
  * and its predecessor a, in this order:
  *  - LAYOUT: b's [[Manifest.DataChangeStampProp]] differs from a's.
  *    OPTIMIZE and REORG PURGE stamp a fresh value (Delta's
  *    `dataChange=false`, lifted to commit granularity): they rearrange
  *    bytes without changing content, so every change reader emits
  *    nothing for them;
  *  - RECORDED CDC: b's [[Manifest.CdcDirProp]] is set and differs from
  *    a's. The row-level DML of a `changeFeed` table wrote its exact change
  *    rows to that sub-table ([[ManifestTable.writeCdc]]); readers replay
  *    them, so insert-vs-update attribution is exact;
  *  - APPEND: no file of a is gone or changed — the added files are b's
  *    new names;
  *  - REWRITE: some file of a is gone, or keeps its name with a changed
  *    (rows, deletion vector) key. Removed = those files of a; added = b's
  *    new or changed files.
  * A recorded or rewrite commit still carries its file diff, for readers
  * that deliver files rather than change rows.
  *
  * THE PREDECESSOR-RELATIVE RULE. The stamp and the CDC pointer are
  * INHERITED, unchanged, by every later commit, so each means something
  * only as a CHANGE from the predecessor — no commit has to strip them.
  * Snapshot reads are therefore strict: a missing predecessor must fail
  * ([[Trail.snapshot]]), never read as "no prop", or an inherited pointer
  * would claim an older commit's rows.
  *
  * THE FORK AND REPUBLISH RULES. The commit-scoped props — the stamp, the
  * CDC pointer and the streaming epoch watermarks (`lastEpoch` and
  * `lastEpoch.<queryId>`, [[ManifestStreamingWrite]]) — describe one
  * chain's commits, not the content:
  *  - a FORK (SHALLOW CLONE, CREATE BRANCH, CREATE TAG) starts a new chain
  *    and drops all of them ([[forked]]): an inherited stamp would make
  *    the fork's first state a layout commit, an inherited CDC pointer
  *    would claim the source's last DML rows, and an inherited watermark
  *    would drop a resumed query's first epochs as replays;
  *  - a REPUBLISH (RESTORE, FAST FORWARD) publishes an older or foreign
  *    state as the head's next commit ([[republished]]): it keeps the
  *    head's stamp (it is a data change on the head's chain), drops the
  *    CDC pointer (its changes are the read-time diff), and keeps, per
  *    watermark key, the higher of the head's and the published state's
  *    epoch — a watermark never goes back, or a resumed stream would
  *    re-append an epoch it already committed. */
private[graft] object Commits {

  /** What one commit did, by the rules above. */
  sealed trait Change {
    def removed: Seq[ManifestFile]
    def added: Seq[ManifestFile]
  }
  case object Layout extends Change {
    val removed: Seq[ManifestFile] = Seq.empty
    val added: Seq[ManifestFile] = Seq.empty
  }
  final case class Recorded(cdcDir: String, removed: Seq[ManifestFile],
      added: Seq[ManifestFile]) extends Change
  final case class Append(added: Seq[ManifestFile]) extends Change {
    def removed: Seq[ManifestFile] = Seq.empty
  }
  final case class Rewrite(removed: Seq[ManifestFile], added: Seq[ManifestFile])
    extends Change

  /** Commit `version`: its snapshot `after`, its predecessor `prev`'s
    * snapshot `before`, and what it did. */
  final case class Commit(prev: Int, version: Int, before: Manifest,
      after: Manifest, change: Change)

  def classify(a: Manifest, b: Manifest): Change = {
    def prop(m: Manifest, p: String) = m.props.get(p)
    if (prop(b, Manifest.DataChangeStampProp) != prop(a, Manifest.DataChangeStampProp))
      return Layout
    def key(e: ManifestFile) = (e.rows, e.dv.map(_._1))
    val prevKey = a.entries.map(e => e.name -> key(e)).toMap
    val currKey = b.entries.map(e => e.name -> key(e)).toMap
    val removed = a.entries.filterNot(e => currKey.get(e.name).contains(key(e)))
    val added = b.entries.filterNot(e => prevKey.get(e.name).contains(key(e)))
    val cdc = prop(b, Manifest.CdcDirProp)
    if (cdc.isDefined && cdc != prop(a, Manifest.CdcDirProp))
      Recorded(cdc.get, removed, added)
    else if (removed.isEmpty) Append(added)
    else Rewrite(removed, added)
  }

  /** The CDC sub-table `m`'s commit points at, inherited or not (VACUUM
    * keeps every surviving snapshot's pointer reachable). */
  def cdcDirOf(m: Manifest): Option[String] = m.props.get(Manifest.CdcDirProp)

  /** The newest committed version, 0 for no commit. */
  def newest(dir: Path): Int = Manifest.snapshotVersions(dir).lastOption.getOrElse(0)

  /** Epoch millis at which `version` was committed. */
  def committedAt(dir: Path, version: Int): Long =
    Files.getLastModifiedTime(dir.resolve(s"_manifest.v$version")).toMillis

  /** The newest version committed at or before epoch-millis `millis`;
    * None when every version is newer. */
  def atOrBefore(dir: Path, millis: Long): Option[Int] =
    Manifest.snapshotVersions(dir).reverse.find(v => committedAt(dir, v) <= millis)

  /** (version, files, live rows, commit millis) per surviving snapshot,
    * oldest first — metadata only, no data file opens. */
  def history(dir: Path): Seq[(Int, Int, Long, Long)] =
    Manifest.snapshotVersions(dir).flatMap { v =>
      Manifest.readSnapshot(dir, v).map(m =>
        (v, m.entries.length, m.entries.map(_.liveRows).sum, committedAt(dir, v)))
    }

  private def isEpoch(k: String): Boolean =
    k == Manifest.LastEpochProp || k.startsWith(Manifest.LastEpochProp + ".")

  /** `props` as a fork's first state carries them. */
  def forked(props: Map[String, String]): Map[String, String] =
    props.filterNot { case (k, _) =>
      isEpoch(k) || k == Manifest.CdcDirProp || k == Manifest.DataChangeStampProp
    }

  /** `snap`'s props as the head's next commit carries them, given the
    * head's props `head`. */
  def republished(head: Map[String, String],
      snap: Map[String, String]): Map[String, String] = {
    val epochs = (head.keySet ++ snap.keySet).filter(isEpoch).map { k =>
      k -> (head.get(k).toSeq ++ snap.get(k)).maxBy(_.toLong)
    }
    snap - Manifest.CdcDirProp - Manifest.DataChangeStampProp ++
      head.get(Manifest.DataChangeStampProp).map(Manifest.DataChangeStampProp -> _) ++
      epochs
  }

  /** The trail of `dir` as one reader walks it; `label` and `remedy` word
    * that reader's refusal when a snapshot or CDC sub-table it needs was
    * vacuumed. */
  final case class Trail(dir: Path, label: String, remedy: String) {
    /** Version `v`'s snapshot, strictly: an expired one throws. */
    def snapshot(v: Int): Manifest =
      if (v == 0) Manifest(new StructType(), Seq.empty)
      else Manifest.readSnapshot(dir, v).getOrElse(throw new IllegalStateException(
        s"$label: snapshot $v expired (VACUUM RETAIN) at $dir — $remedy"))

    /** The commits after `from`, up to and including `to`, oldest first;
      * each reads its two snapshots only when reached. */
    def commits(from: Int, to: Int): Iterator[Commit] = {
      val vs = Manifest.snapshotVersions(dir).filter(v => v > from && v <= to)
      (from +: vs).iterator.zip(vs.iterator).map { case (a, b) =>
        val (before, after) = (snapshot(a), snapshot(b))
        Commit(a, b, before, after, classify(before, after))
      }
    }

    /** The CDC sub-table a recorded commit wrote, and its manifest. */
    def recorded(c: Commit, cdcDir: String): (Path, Manifest) = {
      val sub = dir.resolve(cdcDir)
      (sub, Manifest.read(sub).getOrElse(throw new IllegalStateException(
        s"$label: commit ${c.version}'s CDC dir $cdcDir was vacuumed — $remedy")))
    }
  }
}
