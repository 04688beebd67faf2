package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** NAMED BRANCHES + WRITE-AUDIT-PUBLISH over manifest tables (Iceberg's
  * branch refs / the WAP pattern, adapted to the directory-per-table
  * layout):
  *
  *  - `ALTER TABLE t CREATE BRANCH b` forks the table's CURRENT snapshot
  *    into `t@b` — a metadata-only shallow clone living under the table's
  *    own directory (`_branch_b/`), with the fork version recorded and the
  *    props [[Commits.forked]]. Zero data movement; reads resolve through
  *    the clone chain.
  *  - writes address the branch as an ordinary table: `INSERT INTO t@b`,
  *    row-level DML, OPTIMIZE — all the existing machinery, isolated from
  *    main (copy-on-write divergence, exactly like clones).
  *  - the AUDIT step is any query over `t@b` — mainline readers never see
  *    branch data.
  *  - `ALTER TABLE t FAST FORWARD BRANCH b` PUBLISHES the branch: iff main
  *    has not advanced past the fork point, the branch's current state
  *    becomes main's next version in one atomic swap (branch-local data /
  *    sidecar / segment files move into the table directory first — names
  *    are globally unique, so the moves can never collide; the props are
  *    [[Commits.republished]] over main's), and the branch ref is dropped.
  *    A diverged main refuses loudly — not a fast-forward.
  *  - `ALTER TABLE t DROP BRANCH b` abandons the branch: its local files
  *    die with its directory; nothing in main ever referenced them.
  *
  * Unlike cross-directory clones (which pin nothing by design), a branch
  * lives INSIDE the table directory — so VACUUM discovers every
  * outstanding branch's references and keeps them reachable: deep vacuums
  * on main are safe with branches open. */
private[graft] object Branch {
  /** Fork version prop in the branch's own manifest. */
  private[graft] val BaseProp = "branchBase"

  private val NamePat = """[A-Za-z_][A-Za-z0-9_]*""".r

  private[graft] def branchDir(dir: Path, name: String): Path =
    dir.resolve(s"_branch_$name")

  private def checkName(name: String): Unit =
    if (!NamePat.matches(name)) throw new IllegalArgumentException(
      s"branch name must be an identifier, got '$name'")

  def create(dir: Path, name: String): Unit = {
    checkName(name)
    val bdir = branchDir(dir, name)
    if (Files.exists(bdir.resolve("_manifest")))
      throw new IllegalArgumentException(s"branch $name already exists")
    if (Files.exists(Tag.tagDir(dir, name).resolve("_manifest")))
      throw new IllegalArgumentException(
        s"a tag named $name already exists — refs share the @ namespace")
    val m = Manifest.read(dir).getOrElse(throw new IllegalStateException(
      s"CREATE BRANCH: no manifest at $dir"))
    Files.createDirectories(bdir)
    val base = Manifest.snapshotVersions(dir).lastOption.getOrElse(0)
    val props = Commits.forked(m.props) +
      (Manifest.CloneSourceProp -> dir.toAbsolutePath.toString) +
      (BaseProp -> base.toString)
    Manifest.write(bdir, Manifest(m.schema, m.entries, props, m.segments))
  }

  def drop(dir: Path, name: String): Unit = {
    checkName(name)
    val bdir = branchDir(dir, name)
    if (!Files.exists(bdir.resolve("_manifest")))
      throw new IllegalArgumentException(s"no branch $name at $dir")
    val walk = Files.walk(bdir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Publish: branch state → main's next version, iff main still sits at
    * the fork point. Returns the published version number. */
  def fastForward(dir: Path, name: String): Int = {
    checkName(name)
    val bdir = branchDir(dir, name)
    val bm = Manifest.read(bdir).getOrElse(throw new IllegalArgumentException(
      s"no branch $name at $dir"))
    ManifestLock.withLock(dir) {
      val base = bm.props.get(BaseProp).map(_.toInt).getOrElse(0)
      val cur = Manifest.snapshotVersions(dir).lastOption.getOrElse(0)
      if (cur != base) throw new java.util.ConcurrentModificationException(
        s"FAST FORWARD: main advanced to v$cur since branch $name forked " +
          s"at v$base — not a fast-forward. Re-apply the branch's changes " +
          "against the current state (or recreate the branch).")
      // branch-LOCAL files move home; inherited ones already live in `dir`
      // (the chain resolved them there). Names are globally unique, so an
      // existing target means "already home" — only segments hit that case
      // (inherited refs), and data/dv/blob names never collide.
      def moveHome(n: String): Unit = {
        val src = bdir.resolve(n)
        if (Files.exists(src) && !Files.exists(dir.resolve(n)))
          Files.move(src, dir.resolve(n), StandardCopyOption.ATOMIC_MOVE)
      }
      bm.entries.foreach { e =>
        moveHome(e.name)
        e.blobsFile.foreach(moveHome)
        e.dv.foreach(d => moveHome(d._1))
      }
      bm.segments.foreach { case (n, _) => moveHome(n) }
      val props = Commits.republished(
        Manifest.read(dir).map(_.props).getOrElse(Map.empty),
        bm.props - Manifest.CloneSourceProp - BaseProp)
      Manifest.write(dir, Manifest(bm.schema, bm.entries, props, bm.segments))
    }
    // the published state is live; the branch ref is spent
    drop(dir, name)
    Manifest.snapshotVersions(dir).lastOption.getOrElse(0)
  }

  /** Branches of `dir`, by name. */
  def list(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("_branch_"))
        .map(_.stripPrefix("_branch_"))
        .toSeq.sorted
      finally s.close()
    }
}

/** IMMUTABLE TAGS (Iceberg's tag refs): `ALTER TABLE t CREATE TAG r [AS OF
  * VERSION n]` pins snapshot n (default: current) under the name `r`,
  * readable forever as `` `t@r` `` — the reproducible-release primitive a
  * training-data pipeline needs ("run X read tag Y"). Properties:
  *
  *  - metadata-only: the tag holds its OWN manifest copy under the
  *    table's directory (`_tag_r/`), resolving data files through the
  *    clone chain — zero data movement, and snapshot-manifest expiry
  *    (`VACUUM … RETAIN n SNAPSHOTS`) cannot invalidate it;
  *  - IMMUTABLE: every write surface refuses a tag target (the manifest
  *    carries [[Tag.PinProp]]; [[ManifestTable.assertWritable]] gates
  *    appends/overwrites/streaming, [[ManifestTable.publishReplacing]]
  *    gates every row-level op, the catalog gates ALTER) — unlike a
  *    branch, a tag can never diverge;
  *  - VACUUM-pinned: tag manifests count as reachable roots, so a deep
  *    vacuum on main keeps every tagged snapshot's files until
  *    `DROP TAG` reaps the ref (then the ordinary unreachable-file
  *    collection applies). */
private[graft] object Tag {
  /** Marks a tag manifest (value = the pinned version). Present ⇒ the
    * directory is read-only. */
  private[graft] val PinProp = "tagPinnedVersion"

  private val NamePat = """[A-Za-z_][A-Za-z0-9_]*""".r

  private[graft] def tagDir(dir: Path, name: String): Path =
    dir.resolve(s"_tag_$name")

  private def checkName(name: String): Unit =
    if (!NamePat.matches(name)) throw new IllegalArgumentException(
      s"tag name must be an identifier, got '$name'")

  /** Pin `version` (or the current snapshot) as tag `name`. Returns the
    * pinned version. */
  def create(dir: Path, name: String, version: Option[Int]): Int = {
    checkName(name)
    val tdir = tagDir(dir, name)
    if (Files.exists(tdir.resolve("_manifest")))
      throw new IllegalArgumentException(s"tag $name already exists")
    if (Files.exists(Branch.branchDir(dir, name).resolve("_manifest")))
      throw new IllegalArgumentException(
        s"a branch named $name already exists — refs share the @ namespace")
    val cur = Manifest.snapshotVersions(dir).lastOption.getOrElse(0)
    val (m, v) = version match {
      case Some(n) =>
        (Manifest.readSnapshot(dir, n).getOrElse(
          throw new IllegalArgumentException(
            s"CREATE TAG: snapshot $n expired or never existed at $dir")), n)
      case None =>
        (Manifest.read(dir).getOrElse(throw new IllegalStateException(
          s"CREATE TAG: no manifest at $dir")), cur)
    }
    Files.createDirectories(tdir)
    val props = Commits.forked(m.props) +
      (Manifest.CloneSourceProp -> dir.toAbsolutePath.toString) +
      (PinProp -> v.toString)
    Manifest.write(tdir, Manifest(m.schema, m.entries, props, m.segments))
    v
  }

  def drop(dir: Path, name: String): Unit = {
    checkName(name)
    val tdir = tagDir(dir, name)
    if (!Files.exists(tdir.resolve("_manifest")))
      throw new IllegalArgumentException(s"no tag $name at $dir")
    val walk = Files.walk(tdir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Tags of `dir`, by name. */
  def list(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("_tag_"))
        .map(_.stripPrefix("_tag_"))
        .toSeq.sorted
      finally s.close()
    }
}
