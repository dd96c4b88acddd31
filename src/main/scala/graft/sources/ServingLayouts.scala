package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Stable on-disk homes for serving-layer state (the persisted
  * artifacts behind AnnServing / DedupServing — cf. the reference's
  * long-lived Redis/DB state, services/query/main.py:66-79, here
  * re-expressed as parquet layouts). Each (kind, corpus-dir) pair has
  * ONE deterministic home under the system temp dir, namespaced by OS
  * user so shared hosts don't collide:
  *
  * {{{ <java.io.tmpdir>/graft-serve-<user>/<kind>-<md5(corpus@stamp).12> }}}
  *
  * One publish rule: a home's served state appears only through one
  * [[SnapshotTable.atomicPublishDir]] rename INSIDE the home. The ANN
  * stores publish versions of the SnapshotTable under `<home>/table`;
  * the dedup layout builds into a fresh `<home>/layout-<uuid>` and
  * publishes it as `<home>/layout` ([[publishedLayout]]), so racing
  * builders publish exactly one layout and no reader ever sees a
  * half-built one.
  *
  * Liveness is the home directory's own mtime, which [[served]]
  * touches on every serve. [[vacuum]] renames a home idle past the
  * retention window aside before deleting it, so a home is whole or
  * absent; a serve that finds its home gone rebuilds.
  *
  * Homes are keyed by (corpus directory, content stamp). The stamp is
  * the max mtime across the corpus dir AND its direct children (a
  * rewrite INSIDE `<table>.parquet/` bumps the subdir's mtime but not
  * the corpus dir's), so any regeneration — whole-table overwrite,
  * append, compaction — moves the home and the superseded one ages out
  * via [[vacuum]]. An unreadable corpus path fails loudly instead of
  * silently collapsing versions. Growth is bounded: one home per
  * (kind, corpus version), regardless of how many processes run.
  */
object ServingLayouts {

  private val Layout = "layout"
  private val Trash = ".trash-"

  /** Per-user root — deterministic across processes. `GRAFT_SERVE_ROOT`
    * overrides it for harnesses that need an ISOLATED layout universe
    * (the cross-JVM CI spec's forked ClusterCheck builds/vacuums under
    * its own root so it can never reclaim layouts the concurrently
    * running test suites are serving from).
    */
  def root: Path =
    sys.env.get("GRAFT_SERVE_ROOT").map(Paths.get(_)).getOrElse(
      Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        "graft-serve-" + sys.props.getOrElse("user.name", "anon")))

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Content-version stamp of the corpus: max mtime over the directory
    * and its direct children. One `stat` per table — driver-sized.
    * Fails loudly on an unreadable corpus so two corpus versions can
    * never silently share a layout under a defaulted stamp.
    */
  private def stampOf(corpusDir: String): Long = {
    val p = Paths.get(corpusDir)
    val top =
      try Files.getLastModifiedTime(p).toMillis
      catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"ServingLayouts: corpus dir unreadable: $corpusDir", e)
      }
    (top +: children(p).map(mtime(_, 0L))).max
  }

  private def stablePathOf(kind: String, corpusDir: String): Path =
    root.resolve(s"$kind-${digest(s"$corpusDir@${stampOf(corpusDir)}")}")

  /** The home for (kind, corpusDir) — created if absent, same path in
    * every JVM while the corpus content version (stamp) is unchanged.
    */
  def dirFor(kind: String, corpusDir: String): String = {
    val d = stablePathOf(kind, corpusDir)
    Files.createDirectories(d)
    writeCorpusMeta(d, corpusDir)
    d.toString
  }

  /** Every home records WHICH corpus it serves (`_corpus` meta): the
    * home's NAME hashes (corpus, content-stamp), so when the corpus
    * changes, new resolves rotate to a fresh home — but a long-lived
    * server session stays pinned to the old one, which is exactly the
    * stale-geometry exposure the drift report exists for. The meta is
    * what lets [[homesFor]] find those prior-stamp homes.
    */
  private val CorpusMeta = "_corpus"
  private def writeCorpusMeta(d: Path, corpusDir: String): Unit = {
    val f = d.resolve(CorpusMeta)
    if (!Files.exists(f))
      try Files.write(f, corpusDir.getBytes("UTF-8"))
      catch { case _: java.io.IOException => () } // racer wrote it — same content
  }

  /** Every existing home of `kind` recorded (via `_corpus` meta) as
    * serving `corpusDir`, most recently served first — across content
    * stamps, which is the point: the head is the home current resolves
    * use (or the most recently live one), the tail are prior-stamp
    * homes long-lived servers may still be pinned to.
    */
  def homesFor(kind: String, corpusDir: String): Seq[String] =
    children(root)
      .filter(p => p.getFileName.toString.matches(s"\\Q$kind\\E-[0-9a-f]{12}"))
      .filter { p =>
        try new String(Files.readAllBytes(p.resolve(CorpusMeta)), "UTF-8") == corpusDir
        catch { case _: java.io.IOException => false }
      }
      .sortBy(mtime(_, 0L))(Ordering[Long].reverse).map(_.toString)

  /** The home for (kind, corpusDir) only if it already exists —
    * maintenance probes ([[graft.Maintain]]) must not manufacture empty
    * homes as a side effect of checking.
    */
  def existingDirFor(kind: String, corpusDir: String): Option[String] = {
    val d = stablePathOf(kind, corpusDir)
    if (Files.isDirectory(d)) Some(d.toString) else None
  }

  /** `<home>/layout`, built by `build` into a fresh `layout-<uuid>` and
    * published by [[SnapshotTable.atomicPublishDir]] if no layout is
    * published yet. A builder that loses the publish race gets the
    * conflict, which removes its build, and serves the winner's layout.
    */
  def publishedLayout(home: String)(build: String => Unit): String = {
    val layout = new org.apache.hadoop.fs.Path(home, Layout)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    if (!fs.exists(layout)) {
      val built = new org.apache.hadoop.fs.Path(unpublishedLayout(home)(build))
      try SnapshotTable.atomicPublishDir(fs, built, layout)
      catch { case _: IllegalStateException => () } // a racer published first
    }
    layout.toString
  }

  /** A fresh `<home>/layout-<uuid>` built by `build` and never
    * published — for a layout that must not touch the shared one (the
    * published layout failed to reload in this catalog). [[served]]
    * keeps it alive while it serves; [[vacuum]] reclaims it after.
    */
  def unpublishedLayout(home: String)(build: String => Unit): String = {
    val d = Paths.get(home, s"$Layout-${java.util.UUID.randomUUID()}")
    Files.createDirectories(d)
    try build(d.toString)
    catch { case e: Throwable => deleteRecursively(d); throw e }
    d.toString
  }

  /** Serve-with-liveness for a session cache of (served dir, value):
    * get-or-build the entry, then on EVERY serve touch its dir if it
    * still exists, or — when a vacuum reclaimed the home under a
    * long-lived server — evict the entry and rebuild instead of failing
    * every later call off dead frames.
    */
  def served[V](cache: SessionCache[(String, V)], spark: SparkSession, corpusDir: String)
               (make: => (String, V)): V = {
    val (dir, v) = cache.getOrBuild(spark, corpusDir)(make)
    if (Files.isDirectory(Paths.get(dir))) { touch(dir); v }
    else {
      cache.invalidate(corpusDir)
      val (rebuilt, v2) = cache.getOrBuild(spark, corpusDir)(make)
      touch(rebuilt)
      v2
    }
  }

  /** Mark `dir` served now: its mtime, and its home's when `dir` is a
    * layout inside a home — the liveness [[vacuum]] reads. One
    * utimensat each, so it runs on every serve.
    */
  def touch(dir: String): Unit = {
    val d = Paths.get(dir)
    val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    (d +: Option(d.getParent).filter(_.getParent == root).toSeq).foreach { p =>
      try Files.setLastModifiedTime(p, now)
      catch { case _: java.io.IOException => () } // raced with a vacuum: the next serve rebuilds
    }
  }

  /** Reclaim homes no serve has touched within `maxAgeMs` (home mtime),
    * and inside live homes the unpublished `layout-*` builds idle as
    * long by their own mtime (a crashed builder's, or a private layout
    * nobody serves any more). Each is renamed aside to
    * `<name>.trash-<uuid>` before it is deleted, so it is whole or
    * absent; trash a stopped vacuum left is reclaimed at any age.
    * Returns the number of directories reclaimed. A serve racing the
    * vacuum rebuilds ([[served]]) — the same trade as every retention
    * GC in the repo.
    */
  def vacuum(maxAgeMs: Long, nowMs: Long = System.currentTimeMillis()): Int = {
    def stale(p: Path): Boolean =
      p.getFileName.toString.contains(Trash) || nowMs - mtime(p, nowMs) > maxAgeMs
    def reclaim(p: Path): Int = {
      val doomed = if (p.getFileName.toString.contains(Trash)) Some(p) else trash(p)
      doomed.foreach(deleteRecursively)
      doomed.size
    }
    children(root).filter(Files.isDirectory(_)).map { home =>
      if (stale(home)) reclaim(home)
      else children(home)
        .filter(b => b.getFileName.toString.startsWith(s"$Layout-") && stale(b))
        .map(reclaim).sum
    }.sum
  }

  /** A vacuum's first step: rename `dir` aside to a `.trash-` sibling
    * in one atomic move. None when it is already gone (a racing vacuum
    * claimed it).
    */
  private[graft] def trash(dir: Path): Option[Path] = {
    val aside = dir.resolveSibling(
      dir.getFileName.toString + Trash + java.util.UUID.randomUUID().toString.take(8))
    try { Files.move(dir, aside, StandardCopyOption.ATOMIC_MOVE); Some(aside) }
    catch { case _: java.io.IOException => None }
  }

  /** mtime in ms, `orElse` for a path that vanished under us. */
  private def mtime(p: Path, orElse: Long): Long =
    try Files.getLastModifiedTime(p).toMillis
    catch { case _: java.io.IOException => orElse }

  /** Entries of a directory; empty when it is not one or vanished. */
  private def children(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else try {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    } catch { case _: java.io.IOException => Nil }

  /** Best effort: racing vacuums may delete the same trash. */
  private def deleteRecursively(p: Path): Unit = {
    if (!Files.isSymbolicLink(p)) children(p).foreach(deleteRecursively)
    try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
  }
}
