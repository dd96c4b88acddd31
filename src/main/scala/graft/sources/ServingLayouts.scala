package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}

/** Stable on-disk homes for serving-layer index layouts (the persisted
  * artifacts behind AnnServing / DedupServing — cf. the reference's
  * long-lived Redis/DB state, services/query/main.py:66-79, here
  * re-expressed as parquet layouts).
  *
  * Before round 9, each serving cache built its layout into a fresh
  * `createTempDirectory` per JVM: correct, process-stable within a run,
  * but every new process re-paid the corpus-sized build AND left the
  * previous run's layout stranded in /tmp forever. This helper gives
  * each (kind, corpus-dir) pair ONE deterministic directory under the
  * system temp dir, namespaced by OS user so shared hosts don't
  * collide:
  *
  * {{{ <java.io.tmpdir>/graft-serve-<user>/<kind>-<md5(corpus).12> }}}
  *
  * Lifecycle contract (round-10 hardening — the r9 advisor found the
  * build-in-place protocol racy across processes):
  *  - [[acquire]] is the one write path: a builder stages the layout
  *    into a unique `.stage-*` sibling, marks it complete, then
  *    ATOMICALLY renames it onto the stable path. Two processes that
  *    race both build privately; exactly one rename wins, the loser
  *    discards its stage and serves the winner's files. No reader can
  *    ever observe a half-built or mixed stable directory, because the
  *    stable path only ever appears fully-formed via rename(2).
  *  - The `_layout_complete` marker is written inside the stage BEFORE
  *    the rename, so on the stable path "dir exists" and "complete"
  *    coincide; the marker's remaining job is the [[vacuum]] liveness
  *    stamp: [[touch]] on EVERY serve (not just first load — the r9
  *    advisor's second find) keeps it fresh, so vacuum only reclaims
  *    layouts no process has served from within the retention window.
  *  - A crashed build leaves only a `.stage-*` dir, which ages out by
  *    its own mtime; the stable path is never debris.
  *
  * Layout dirs are keyed by (corpus directory, content stamp). The
  * stamp is the max mtime across the corpus dir AND its direct
  * children (r9 advisor: a rewrite INSIDE `<table>.parquet/` bumps the
  * subdir's mtime but not the corpus dir's), so any regeneration —
  * whole-table overwrite, append, compaction — moves the layout home
  * and the superseded layout ages out via [[vacuum]]. An unreadable
  * corpus path fails loudly instead of silently collapsing versions.
  * Growth is bounded: one dir per (kind, corpus version), regardless
  * of how many gate/bench/test processes run.
  */
object ServingLayouts {

  private val Marker = "_layout_complete"

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
    if (!Files.isDirectory(p)) top
    else {
      val s = Files.list(p)
      try {
        val kids = s.toArray.toSeq.map { c =>
          try Files.getLastModifiedTime(c.asInstanceOf[Path]).toMillis
          catch { case _: java.io.IOException => 0L }
        }
        (top +: kids).max
      } finally s.close()
    }
  }

  private def stablePathOf(kind: String, corpusDir: String): Path =
    root.resolve(s"$kind-${digest(s"$corpusDir@${stampOf(corpusDir)}")}")

  /** The stable layout directory for (kind, corpusDir) — created if
    * absent, same path in every JVM while the corpus content version
    * (stamp) is unchanged. Prefer [[acquire]] for build-or-reuse; this
    * remains the home for stores with their own internal atomicity
    * (the versioned IVF store publishes versions atomically inside it).
    */
  def dirFor(kind: String, corpusDir: String): String = {
    val d = stablePathOf(kind, corpusDir)
    Files.createDirectories(d)
    writeCorpusMeta(d, corpusDir)
    d.toString
  }

  /** Every layout home records WHICH corpus it serves (`_corpus` meta,
    * written by the build paths since r12): the home's NAME hashes
    * (corpus, content-stamp), so when the corpus changes, new resolves
    * rotate to a fresh home — but a long-lived server session stays
    * pinned to the old one, which is exactly the stale-geometry
    * exposure the drift report exists for. The meta is what lets
    * [[homesFor]] find those prior-stamp homes; pre-meta homes are
    * invisible to it (and age out via [[vacuum]] like any idle layout).
    */
  private val CorpusMeta = "_corpus"
  private def writeCorpusMeta(d: Path, corpusDir: String): Unit = {
    val f = d.resolve(CorpusMeta)
    if (!Files.exists(f))
      try Files.write(f, corpusDir.getBytes("UTF-8"))
      catch { case _: java.io.IOException => () } // racer wrote it — same content
  }

  /** Every existing layout home of `kind` recorded (via `_corpus`
    * meta) as serving `corpusDir`, NEWEST-marker first — across
    * content stamps, which is the point: the head is the home current
    * resolves use (or the most recently live one), the tail are
    * prior-stamp homes long-lived servers may still be pinned to.
    */
  def homesFor(kind: String, corpusDir: String): Seq[String] = {
    if (!Files.isDirectory(root)) return Nil
    val s = Files.list(root)
    val dirs = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p)
          && p.getFileName.toString.startsWith(s"$kind-")
          && !p.getFileName.toString.contains(".stage-")
          && !p.getFileName.toString.contains(".debris-"))
        .filter { p =>
          try new String(Files.readAllBytes(p.resolve(CorpusMeta)), "UTF-8") == corpusDir
          catch { case _: java.io.IOException => false }
        }
    } finally s.close()
    // newest SERVE first: the completion marker's mtime is what every
    // serve touches, so it orders homes by last service, not by when
    // the directory happened to be created
    dirs.sortBy { p =>
      try Files.getLastModifiedTime(p.resolve(Marker)).toMillis
      catch { case _: java.io.IOException =>
        try Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => 0L }
      }
    }(Ordering[Long].reverse).map(_.toString)
  }

  /** The stable layout dir for (kind, corpusDir) only if it already
    * exists — maintenance probes ([[graft.Maintain]]) must not
    * manufacture empty layout homes as a side effect of checking.
    */
  def existingDirFor(kind: String, corpusDir: String): Option[String] = {
    val d = stablePathOf(kind, corpusDir)
    if (Files.isDirectory(d)) Some(d.toString) else None
  }

  /** Get-or-build with cross-process safety: returns a directory that
    * holds a COMPLETE layout. If the stable path is already complete,
    * it is touched and reused. Otherwise `build` runs against a unique
    * staging sibling, the marker is written, and the stage is renamed
    * atomically onto the stable path; if another process won the
    * rename race, this builder's stage is discarded and the winner's
    * layout served. If the rename fails against pre-protocol debris
    * that cannot be replaced, the private stage itself is served (and
    * later reclaimed by [[vacuum]]) — never an overwrite of a shared
    * live directory.
    */
  def acquire(kind: String, corpusDir: String)(build: String => Unit): String = {
    val stable = stablePathOf(kind, corpusDir)
    Files.createDirectories(stable.getParent)
    if (isComplete(stable.toString)) { touch(stable.toString); return stable.toString }
    val stage = newStage(stable)
    Files.createDirectories(stage)
    try {
      build(stage.toString)
      writeCorpusMeta(stage, corpusDir)
      markComplete(stage.toString)
    } catch {
      case e: Throwable => deleteRecursively(stage); throw e
    }
    try {
      Files.move(stage, stable, StandardCopyOption.ATOMIC_MOVE)
      stable.toString
    } catch {
      case _: java.nio.file.FileSystemException => // exists / not empty / busy
        if (isComplete(stable.toString)) {
          // a concurrent builder won the publish race — serve its layout
          deleteRecursively(stage)
          touch(stable.toString)
          stable.toString
        } else {
          // Incomplete debris at the stable path (crashed pre-rename
          // protocol). NEVER delete it in place: a concurrent winner's
          // atomic publish can land between this completeness check and
          // the delete, and a delete would destroy the freshly-published
          // layout (r10 advisor). Instead CLAIM the slot by atomically
          // renaming whatever is there aside, then re-inspect what we
          // actually claimed:
          //  - if it turned out to be a winner's just-published complete
          //    layout (published in the race window), restore it and
          //    serve it — our stage is discarded;
          //  - if it really was debris, discard it and publish our stage.
          // Any rename that loses a further race falls back to serving
          // whichever complete layout holds the slot, else our private
          // stage; orphaned `.debris-*` dirs age out via [[vacuum]] like
          // any stage.
          val debris = stable.resolveSibling(
            stable.getFileName.toString + ".debris-" +
              java.util.UUID.randomUUID().toString.take(8))
          try {
            Files.move(stable, debris, StandardCopyOption.ATOMIC_MOVE)
            if (isComplete(debris.toString)) {
              // we claimed a winner's publish — put it back and serve it
              try {
                Files.move(debris, stable, StandardCopyOption.ATOMIC_MOVE)
                deleteRecursively(stage)
                touch(stable.toString)
                stable.toString
              } catch {
                case _: java.nio.file.FileSystemException =>
                  serveStableOrStage(stable, stage)
              }
            } else {
              deleteRecursively(debris)
              try {
                Files.move(stage, stable, StandardCopyOption.ATOMIC_MOVE)
                stable.toString
              } catch {
                case _: java.nio.file.FileSystemException =>
                  serveStableOrStage(stable, stage)
              }
            }
          } catch {
            case _: java.nio.file.FileSystemException =>
              // couldn't claim the slot (another claimer beat us):
              // serve whatever complete layout now holds it, else stage
              serveStableOrStage(stable, stage)
          }
        }
    }
  }

  /** Last-resort resolution after a lost rename race: serve the stable
    * path if some racer published a complete layout there, otherwise
    * serve this builder's own complete private stage (reclaimed later
    * by [[vacuum]]).
    */
  private def serveStableOrStage(stable: Path, stage: Path): String =
    if (isComplete(stable.toString)) {
      deleteRecursively(stage)
      touch(stable.toString)
      stable.toString
    } else stage.toString

  /** A fresh private staging dir next to the stable path — for builds
    * that must NOT touch the shared layout (e.g. the stored layout
    * exists but failed to reload in this catalog). Reclaimed by
    * [[vacuum]] like any layout dir.
    */
  def privateStage(kind: String, corpusDir: String): String = {
    val d = newStage(stablePathOf(kind, corpusDir))
    Files.createDirectories(d)
    writeCorpusMeta(d, corpusDir)
    d.toString
  }

  private def newStage(stable: Path): Path =
    stable.resolveSibling(
      stable.getFileName.toString + ".stage-" +
        java.util.UUID.randomUUID().toString.take(8))

  /** True iff a prior build finished (marker present). */
  def isComplete(dir: String): Boolean =
    Files.exists(Paths.get(dir, Marker))

  /** Publish the layout as reusable — call only after every file of the
    * layout is on disk. Idempotent and race-safe: a marker that already
    * exists is the desired end state.
    */
  def markComplete(dir: String): Unit = {
    try Files.createFile(Paths.get(dir, Marker))
    catch { case _: FileAlreadyExistsException => () }
    touch(dir)
  }

  /** Strip the marker before a rebuild overwrites the layout in place,
    * so no other process trusts a half-overwritten directory. (With
    * [[acquire]] in-place overwrites no longer happen on stable paths;
    * retained for stores with internal atomicity and for tests.)
    */
  def invalidate(dir: String): Unit =
    Files.deleteIfExists(Paths.get(dir, Marker))

  /** Refresh the marker mtime so [[vacuum]] sees the layout as live.
    * Called on EVERY serve (cheap: one utimensat), not just first load,
    * so a long-lived server's layout can never age out under it.
    */
  def touch(dir: String): Unit = {
    val m = Paths.get(dir, Marker)
    try {
      if (Files.exists(m))
        Files.setLastModifiedTime(m,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    } catch { case _: java.io.IOException => () } // raced with a vacuum: next serve revalidates
  }

  /** Reclaim layout dirs not served from within `maxAgeMs` (marker
    * mtime too old) — and stage/half-built dirs with NO marker older
    * than `maxAgeMs` by directory mtime (a crashed build's debris).
    * Returns the number of layout dirs deleted. Safe to run on the
    * owner's cadence; serving caches revalidate the marker on every
    * serve and rebuild if a vacuum raced them — same trade as every
    * retention GC in the repo.
    */
  def vacuum(maxAgeMs: Long, nowMs: Long = System.currentTimeMillis()): Int = {
    if (!Files.exists(root)) return 0
    val s = Files.list(root)
    val dirs =
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      finally s.close()
    var deleted = 0
    dirs.foreach { d =>
      val marker = d.resolve(Marker)
      val stampPath = if (Files.exists(marker)) marker else d
      val age =
        try nowMs - Files.getLastModifiedTime(stampPath).toMillis
        catch { case _: java.io.IOException => 0L } // vanished under us: skip
      if (age > maxAgeMs) { deleteRecursively(d); deleted += 1 }
    }
    deleted
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
