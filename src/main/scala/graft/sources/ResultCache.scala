package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets

/** Materialized query-result cache with TTL — the batch-engine analog
  * of the reference's Redis result cache (services/query/main.py:66-79:
  * key = sha256(query + sorted-params), TTL 300 s, DB on miss). A Redis
  * blob cache is the wrong shape for a distributed engine — results can
  * exceed one node and the store should be the same parquet the engine
  * already reads at full scan speed — so entries are parquet GENERATION
  * directories published atomically (the [[SnapshotTable]] rename
  * primitive) under sha256 keys:
  *
  * {{{
  *   <cacheRoot>/<sha256-key>/e-<stamp13>-<uuid>/data/part-*.parquet
  *   <cacheRoot>/<sha256-key>/e-<stamp13>-<uuid>/_cached_at
  *   <cacheRoot>/<sha256-key>/e-<stamp13>-<uuid>/_schema
  * }}}
  *
  * `_cached_at` is the publish stamp (epoch ms); `_schema` is the
  * result's schema (Spark's StructType JSON, every field nullable), so
  * a hit reads its parquet without a schema-inference job. A generation
  * without `_schema` (an older layout) serves as a miss and is replaced.
  *
  * Generations are IMMUTABLE once published: a refresh publishes a NEW
  * `e-*` directory and never touches the one a concurrent reader may
  * hold — Redis expiry is atomic and this layout earns the same safety
  * on a filesystem. The newest stamped generation serves; superseded
  * generations are garbage-collected on the publish path once their
  * age exceeds ttl + a grace window (see [[getOrCompute]]) — the
  * previous latest is always retained. Result-sized data, so the
  * bounded retention is cheap.
  *
  * Semantics, matching the reference where it matters:
  *  - HIT (newest generation younger than `ttl`): read its parquet —
  *    the compute thunk never runs, exactly like the Redis
  *    short-circuit.
  *  - MISS/EXPIRED: run the compute, stage, publish a new generation.
  *    Concurrent racers each publish their own uniquely-named
  *    generation; the newest stamp wins for later readers and nobody
  *    fails (best-effort, like the reference's continue-if-Redis-fails
  *    posture).
  *  - [[invalidate]] is the explicit story the reference lacks: it
  *    deletes only the `_cached_at` stamps, making every generation
  *    STALE without immediately removing data a lazy in-flight frame
  *    still needs — the next read recomputes; in-flight reads survive
  *    up to two subsequent publishes (see [[invalidate]]'s retention
  *    note).
  *
  * The cache is a correctness NO-OP by construction: every path
  * returns either the computed frame or a parquet round-trip of one.
  */
object ResultCache {

  /** The reference's cache_key: sha256 over the query text + params in
    * a canonical order (params sorted, so call-site ordering is not
    * part of the identity — main.py:78 sorts keys likewise). The
    * encoding is INJECTIVE: query and each param are digested
    * length-prefixed, so no concatenation of different (query, params)
    * inputs can collide byte-wise — a collision would silently serve
    * the wrong cached result.
    */
  def keyOf(query: String, params: Seq[String] = Nil): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    put(query)
    params.sorted.foreach(put)
    md.digest().map("%02x".format(_)).mkString
  }

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read one of a generation's small files. Both the stamp (invalidate
    * strips it) and the whole generation (GC of a superseded one) are
    * legitimately deleted by concurrent callers, so ANY missing or
    * unreadable state means "absent", never a thrown error:
    * getOrCompute's contract is that concurrent racers each succeed.
    */
  private def readSmall(spark: SparkSession, entry: Path, name: String): Option[String] = {
    val fs = fsOf(spark, entry.toString)
    try {
      val in = fs.open(new Path(entry, name))
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  private def writeSmall(fs: org.apache.hadoop.fs.FileSystem, entry: Path,
                         name: String, text: String): Unit = {
    val out = fs.create(new Path(entry, name))
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** A generation's publish stamp; None when stripped, gone or malformed. */
  private def stampOf(spark: SparkSession, entry: Path): Option[Long] =
    readSmall(spark, entry, "_cached_at").flatMap(_.trim.toLongOption)

  /** A generation's stored result schema; None when absent or malformed. */
  private def schemaOf(spark: SparkSession, entry: Path): Option[StructType] =
    readSmall(spark, entry, "_schema").flatMap { j =>
      try Some(DataType.fromJson(j).asInstanceOf[StructType])
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The generation's data, read under its stored schema (no job). */
  private def readGeneration(spark: SparkSession, gen: Path, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(new Path(gen, "data").toString)

  /** Published generations of `key`, newest-name-first (the 13-digit
    * zero-padded publish stamp in the name sorts chronologically;
    * the uuid suffix breaks same-millisecond ties arbitrarily but
    * stably).
    */
  private def generationsOf(fs: org.apache.hadoop.fs.FileSystem,
                            keyDir: Path): Seq[Path] =
    if (!fs.exists(keyDir)) Seq.empty
    else fs.listStatus(keyDir).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("e-"))
      .sortBy(_.getName)(Ordering[String].reverse)

  /** Serve `key` from the cache if its newest generation is younger
    * than `ttlMs` and carries its schema, otherwise run `compute`,
    * publish its result as a fresh generation, and return the cached
    * read. Neither read starts a Spark job before the caller's action.
    * `nowMs` is injectable for tests.
    *
    * `gcGraceMs` bounds the reader-safety window of generation GC: a
    * superseded generation is reclaimed only once its publish stamp is
    * older than `ttlMs + gcGraceMs`. Any reader necessarily passed its
    * freshness check while the generation's age was < ttl, so it has
    * at least `gcGraceMs` to finish collecting before the files can
    * vanish — the multithreaded hammer spec drives 6 concurrent
    * expired-refreshers through this window. (A generation whose stamp
    * was stripped by [[invalidate]] has no age and is reclaimed
    * immediately once superseded; frames read before an invalidate
    * should be drained promptly, per the invalidate contract.)
    */
  def getOrCompute(spark: SparkSession, cacheRoot: String, key: String,
                   ttlMs: Long, nowMs: () => Long = () => System.currentTimeMillis(),
                   gcGraceMs: Long = 30000L)
                  (compute: => DataFrame): DataFrame = {
    val fs = fsOf(spark, cacheRoot)
    val keyDir = new Path(cacheRoot, key)
    val gens = generationsOf(fs, keyDir)
    val latestFresh = gens.headOption
      .filter(g => stampOf(spark, g).exists(t => nowMs() - t < ttlMs))
      .flatMap(g => schemaOf(spark, g).map(g -> _))
    latestFresh match {
      case Some((g, schema)) => readGeneration(spark, g, schema)
      case None =>
        val df = compute
        val schema = Shims.asNullable(df.schema)
        val now = nowMs()
        val gen = f"e-$now%013d-${java.util.UUID.randomUUID().toString.take(8)}"
        val tmp = new Path(keyDir,
          ".tmp-" + java.util.UUID.randomUUID().toString.take(12))
        df.write.parquet(new Path(tmp, "data").toString)
        writeSmall(fs, tmp, "_schema", schema.json)
        writeSmall(fs, tmp, "_cached_at", now.toString)
        val target = new Path(keyDir, gen)
        // generation names are unique, so the publish cannot conflict;
        // the atomic rename still guards against a torn directory
        SnapshotTable.atomicPublishDir(fs, tmp, target)
        // age-graced GC: always retain the previous latest (readers
        // may be draining it), and reclaim older superseded
        // generations only once their stamp age exceeds ttl + grace —
        // with N concurrent refreshers a reader can lag more than one
        // generation behind, so a pure keep-2 window deletes files out
        // from under a just-returned frame (caught by the hammer spec)
        val cutoff = now - ttlMs - gcGraceMs
        gens.drop(1)
          .filter(g => stampOf(spark, g).forall(_ < cutoff))
          .foreach(g => fs.delete(g, true))
        readGeneration(spark, target, schema)
    }
  }

  /** Mark every generation of `key` stale (read-after-write writers
    * call this on commit): only the `_cached_at` stamps are deleted,
    * so the next [[getOrCompute]] recomputes without yanking data from
    * under an in-flight lazy frame at that instant. Retention after an
    * invalidate is BOUNDED, not indefinite: a stamp-stripped generation
    * has no age, so once it is superseded at depth ≥ 2 the next publish
    * reclaims it immediately (see [[getOrCompute]]'s GC note) — only
    * the latest and previous-latest generations are retention-
    * protected. Frames read before an invalidate must be drained
    * promptly; they survive at most two subsequent publishes. Returns
    * true if any live stamp was removed.
    */
  def invalidate(spark: SparkSession, cacheRoot: String, key: String): Boolean = {
    val fs = fsOf(spark, cacheRoot)
    val gens = generationsOf(fs, new Path(cacheRoot, key))
    gens.map(g => fs.delete(new Path(g, "_cached_at"), false))
      .exists(identity)
  }

  /** Register `keys` for invalidation whenever the [[SnapshotTable]]
    * at `tablePath` publishes a commit — the read-after-write wiring:
    * TTL alone serves staleness-tolerant dashboards, and tables whose
    * dashboards MUST see their own writes invalidate on commit instead
    * of waiting out the TTL.
    */
  def invalidateOnCommit(spark: SparkSession, tablePath: String,
                         cacheRoot: String, keys: Seq[String]): Unit =
    SnapshotTable.onCommit(tablePath) { (_, _) =>
      keys.foreach(k => invalidate(spark, cacheRoot, k))
    }

  /** Maintenance sweep (the [[graft.Maintain]] cadence): the serving
    * path only GCs a key's generations when that key is REFRESHED
    * ([[getOrCompute]]'s publish-side GC), so keys that stop being
    * queried keep their last generations forever. This reclaims,
    * without serving anything:
    *
    *  - whole key dirs in which EVERY generation's stamp is older than
    *    `ttlMs + gcGraceMs` (or stripped): nothing can serve from them
    *    — the next call recomputes regardless — and no reader can have
    *    passed a freshness check within the grace window;
    *  - superseded (non-latest) generations past the same cutoff under
    *    keys that remain live — the same rule the publish-side GC
    *    applies;
    *  - torn `.tmp-*` stagings older than the grace window (a crashed
    *    publish's debris).
    *
    * Returns the number of directories reclaimed. Same retention trade
    * as every vacuum in the repo: don't run with readers draining
    * frames older than ttl + grace.
    */
  def sweep(spark: SparkSession, cacheRoot: String, ttlMs: Long,
            gcGraceMs: Long = 30000L,
            nowMs: () => Long = () => System.currentTimeMillis()): Int = {
    val fs = fsOf(spark, cacheRoot)
    val root = new Path(cacheRoot)
    if (!fs.exists(root)) return 0
    var deleted = 0
    val cutoff = nowMs() - ttlMs - gcGraceMs
    // A staging is debris only when it CRASHED, and a live publish may
    // legitimately write for minutes — so tmp reclamation waits at
    // least an hour, not the reader-anchored grace (a live writer also
    // keeps refreshing the dir's mtime as part files land).
    val tmpCutoff = nowMs() - math.max(gcGraceMs, 3600000L)
    fs.listStatus(root).filter(_.isDirectory).foreach { keyStatus =>
      val keyDir = keyStatus.getPath
      // torn stagings first, so an all-stale key dir deletes cleanly
      fs.listStatus(keyDir)
        .filter(s => s.getPath.getName.startsWith(".tmp-")
          && s.getModificationTime < tmpCutoff)
        .foreach { s => fs.delete(s.getPath, true); deleted += 1 }
      val gens = generationsOf(fs, keyDir)
      // A STRIPPED stamp (invalidate) must not read as infinitely old:
      // invalidate's contract is that published data survives for
      // in-flight readers. Fall back to the generation dir's mtime —
      // stripping the stamp file refreshes it, so a just-invalidated
      // generation keeps its full ttl+grace before the sweep may take
      // it.
      val stale = gens.map(g => stampOf(spark, g).getOrElse(
        fs.getFileStatus(g).getModificationTime) < cutoff)
      if (gens.nonEmpty && stale.forall(identity)) {
        // All-stale is exactly the state a concurrent getOrCompute is
        // RECOMPUTING at sweep time, so never delete the key dir
        // wholesale: that would take a `.tmp-*` staging younger than
        // tmpCutoff (a possibly-live publish the tmp-reclamation step
        // above deliberately exempts) and any generation published
        // between our listing and the delete — failing the writer's
        // rename and breaking the "costs a rebuild, never a failed
        // call" contract. Reclaim only the listed stale generations;
        // the key dir itself goes only when verifiably empty, via a
        // NON-recursive delete that fails harmlessly if anything
        // landed in the window after the emptiness check.
        gens.foreach { g => fs.delete(g, true); deleted += 1 }
        val leftovers = try fs.listStatus(keyDir) catch {
          case _: java.io.IOException => null
        }
        if (leftovers != null && leftovers.isEmpty) {
          try { if (fs.delete(keyDir, false)) deleted += 1 }
          catch { case _: java.io.IOException => () }
        }
      } else {
        gens.drop(1).zip(stale.drop(1)).foreach { case (g, isStale) =>
          if (isStale) { fs.delete(g, true); deleted += 1 }
        }
      }
    }
    deleted
  }

  /** Drop everything under the cache root (including torn stagings).
    * Destructive — unlike [[invalidate]] this does yank data out from
    * under in-flight readers; it is the operator's reset button, not
    * part of the serving protocol.
    */
  def clear(spark: SparkSession, cacheRoot: String): Unit = {
    val fs = fsOf(spark, cacheRoot)
    val root = new Path(cacheRoot)
    if (fs.exists(root)) fs.listStatus(root).foreach(s => fs.delete(s.getPath, true))
  }
}
