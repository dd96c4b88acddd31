package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.Path
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, IOException}
import java.nio.charset.StandardCharsets
import java.util.zip.{DeflaterOutputStream, InflaterInputStream}

/** Query-result cache with TTL — the engine's form of the reference's
  * Redis result cache (services/query/main.py:66-79: key =
  * sha256(query + sorted-params), TTL 300 s, DB on miss). Like the Redis
  * blob, an entry holds the result's ROWS: every caller ships the
  * result through the driver anyway (the query service's response, the
  * gate's hash), so the cache keeps what the driver already holds. A
  * miss runs its query once, as the caller's `collect` would, and a hit
  * serves the stored rows as a local relation: neither the call nor the
  * caller's `collect` starts a Spark job. A result larger than
  * `spark.driver.maxResultSize` fails the miss with Spark's own error,
  * exactly as the caller's `collect` of it would.
  *
  * Entries are GENERATION directories published atomically (the
  * [[SnapshotTable]] rename primitive) under sha256 keys:
  *
  * {{{
  *   <cacheRoot>/<sha256-key>/e-<stamp13>-<uuid>/rows
  *   <cacheRoot>/<sha256-key>/e-<stamp13>-<uuid>/_cached_at
  *   <cacheRoot>/<sha256-key>/e-<stamp13>-<uuid>/_schema
  * }}}
  *
  * `_cached_at` is the publish stamp (epoch ms); `_schema` is the
  * result's schema (Spark's StructType JSON, every field nullable).
  * `rows` is one Deflater-compressed stream: a header (the writing Spark
  * version, the row count), then each row as its length and its
  * UnsafeRow bytes under `_schema`. No Java serialization: the bytes are
  * plain data, read back as UnsafeRows and never deserialized into
  * objects. A generation whose `rows` is missing or unreadable, or
  * whose header names another Spark version (the UnsafeRow layout is
  * Spark's own), is a miss that recomputes and publishes a new
  * generation; so is one without `_schema`. An older layout that stored
  * a `data/` parquet directory instead of `rows` is served the same
  * way, not migrated.
  *
  * Generations are IMMUTABLE once published: a refresh publishes a NEW
  * `e-*` directory and never touches the one a concurrent reader may
  * be reading — Redis expiry is atomic and this layout earns the same
  * safety on a filesystem. The newest stamped generation serves;
  * superseded generations are garbage-collected on the publish path
  * once their age exceeds ttl + a grace window (see [[getOrCompute]]) —
  * the previous latest is always retained. Result-sized data, so the
  * bounded retention is cheap.
  *
  * Semantics, matching the reference where it matters:
  *  - HIT (newest generation younger than `ttl`): read its rows — the
  *    compute thunk never runs, exactly like the Redis short-circuit.
  *  - MISS/EXPIRED: run the compute, publish its rows as a new
  *    generation, return them. Concurrent racers each publish their own
  *    uniquely-named generation; the newest stamp wins for later
  *    readers and nobody fails (best-effort, like the reference's
  *    continue-if-Redis-fails posture).
  *  - [[invalidate]] is the explicit story the reference lacks: it
  *    deletes only the `_cached_at` stamps, making every generation
  *    STALE without removing rows a concurrent hit may be reading —
  *    the next read recomputes.
  *
  * The cache is a correctness NO-OP by construction: every path
  * returns the computed rows, in the computed order.
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

  private val RowsFile = "rows"

  /** Write `rows` as a generation's `rows` file (see the layout above). */
  private def writeRows(fs: org.apache.hadoop.fs.FileSystem, entry: Path,
                        rows: Array[UnsafeRow]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new DeflaterOutputStream(fs.create(new Path(entry, RowsFile))), 65536))
    val buf = new Array[Byte](4096) // only used by rows not backed by a byte[]
    try {
      out.writeUTF(org.apache.spark.SPARK_VERSION)
      out.writeInt(rows.length)
      rows.foreach { r =>
        out.writeInt(r.getSizeInBytes)
        r.writeToStream(out, buf)
      }
    } finally out.close()
  }

  /** A generation's rows under its stored schema; None when the file is
    * gone, torn or malformed, or was written by another Spark version.
    */
  private def readRows(spark: SparkSession, entry: Path,
                       schema: StructType): Option[Array[UnsafeRow]] = {
    val fs = fsOf(spark, entry.toString)
    val fixed = UnsafeRow.calculateBitSetWidthInBytes(schema.length) + 8 * schema.length
    try {
      val in = new DataInputStream(new BufferedInputStream(
        new InflaterInputStream(fs.open(new Path(entry, RowsFile))), 65536))
      try {
        if (in.readUTF() != org.apache.spark.SPARK_VERSION) None
        else {
          val n = in.readInt()
          if (n < 0) throw new IOException(s"negative row count $n")
          // grown row by row, so a corrupt count ends in EOF, not in a
          // huge allocation
          Some(Iterator.fill(n) {
            val size = in.readInt()
            if (size < fixed || size % 8 != 0)
              throw new IOException(s"row of $size bytes under a ${schema.length}-field schema")
            val bytes = new Array[Byte](size)
            in.readFully(bytes)
            val row = new UnsafeRow(schema.length)
            row.pointTo(bytes, size)
            row
          }.toArray)
        }
      } finally in.close()
    } catch { case _: IOException => None }
  }

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
    * than `ttlMs` and its schema and rows read back, otherwise run
    * `compute`, collect its rows once, publish them as a fresh
    * generation, and return them. Either way the result is a local
    * relation over driver-held rows under the stored (all-nullable)
    * schema, so collecting it starts no Spark job. `nowMs` is
    * injectable for tests.
    *
    * `gcGraceMs` bounds the reader-safety window of generation GC: a
    * superseded generation is reclaimed only once its publish stamp is
    * older than `ttlMs + gcGraceMs`. Any reader necessarily passed its
    * freshness check while the generation's age was < ttl, so it has at
    * least `gcGraceMs` to read the rows before the file can vanish. A
    * returned frame holds its rows and reads no file after the call, so
    * the window now spares a concurrent hit a recompute (a rows file
    * that vanishes mid-read is a miss); it no longer guards against a
    * failed read. The multithreaded hammer spec drives 6 concurrent
    * expired-refreshers through it. (A generation whose stamp was
    * stripped by [[invalidate]] has no age and is reclaimed immediately
    * once superseded.)
    */
  def getOrCompute(spark: SparkSession, cacheRoot: String, key: String,
                   ttlMs: Long, nowMs: () => Long = () => System.currentTimeMillis(),
                   gcGraceMs: Long = 30000L)
                  (compute: => DataFrame): DataFrame = {
    val fs = fsOf(spark, cacheRoot)
    val keyDir = new Path(cacheRoot, key)
    val gens = generationsOf(fs, keyDir)
    val hit = gens.headOption
      .filter(g => stampOf(spark, g).exists(t => nowMs() - t < ttlMs))
      .flatMap(g => schemaOf(spark, g).flatMap(s => readRows(spark, g, s).map(s -> _)))
    hit match {
      case Some((schema, rows)) => Shims.localFrame(spark, schema, rows.toSeq)
      case None =>
        val df = compute
        val schema = Shims.asNullable(df.schema)
        val rows = Shims.collectUnsafe(df)
        val now = nowMs()
        val gen = f"e-$now%013d-${java.util.UUID.randomUUID().toString.take(8)}"
        val tmp = new Path(keyDir,
          ".tmp-" + java.util.UUID.randomUUID().toString.take(12))
        writeRows(fs, tmp, rows)
        writeSmall(fs, tmp, "_schema", schema.json)
        writeSmall(fs, tmp, "_cached_at", now.toString)
        // generation names are unique, so the publish cannot conflict;
        // the atomic rename still guards against a torn directory
        SnapshotTable.atomicPublishDir(fs, tmp, new Path(keyDir, gen))
        // age-graced GC: always retain the previous latest (a hit may
        // be reading it), and reclaim older superseded generations only
        // once their stamp age exceeds ttl + grace — with N concurrent
        // refreshers a reader can lag more than one generation behind
        val cutoff = now - ttlMs - gcGraceMs
        gens.drop(1)
          .filter(g => stampOf(spark, g).forall(_ < cutoff))
          .foreach(g => fs.delete(g, true))
        Shims.localFrame(spark, schema, rows.toSeq)
    }
  }

  /** Mark every generation of `key` stale (read-after-write writers
    * call this on commit): only the `_cached_at` stamps are deleted, so
    * the next [[getOrCompute]] recomputes while a concurrent hit that
    * already passed its freshness check still reads its rows.
    * Retention after an invalidate is BOUNDED, not indefinite: a
    * stamp-stripped generation has no age, so once it is superseded at
    * depth ≥ 2 the next publish reclaims it immediately (see
    * [[getOrCompute]]'s GC note) — only the latest and previous-latest
    * generations are retention-protected. Frames returned before an
    * invalidate hold their rows and are unaffected. Returns true if any
    * live stamp was removed.
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
    * Returns the number of directories reclaimed. A hit that passed its
    * freshness check longer than ttl + grace ago and is still reading
    * the rows file recomputes, as it would after the publish-side GC.
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
    // legitimately take a while to write its files on a slow store — so
    // tmp reclamation waits at least an hour, not the reader-anchored
    // grace.
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
