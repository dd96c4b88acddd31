package graft

import graft.sources.SnapshotTable
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}
import scala.jdk.CollectionConverters._

/** Contract tests for the snapshot-isolated table format: atomic
  * version publish, time travel, partition-level copy-on-write merge,
  * pinned-snapshot isolation, compaction, vacuum, and dead-commit
  * inertness.
  */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def rowsOf(path: String, v: Long = -1L): Set[(Long, String, Long)] =
    SnapshotTable.read(spark, path, v)
      .select("k", "part_col", "ord")
      .as[(Long, String, Long)].collect().toSet

  private def seed = Seq(
    (1L, "a", 1L), (2L, "a", 1L), (3L, "b", 1L), (4L, "b", 1L), (5L, "c", 1L)
  ).toDF("k", "part_col", "ord")

  test("create/read round-trip; append adds a version and time travel keeps the old one") {
    val t = tmpTable("graft_snap")
    assert(SnapshotTable.create(spark, t, seed, Seq("part_col")) === 1L)
    assert(rowsOf(t) === seed.as[(Long, String, Long)].collect().toSet)
    val v2 = SnapshotTable.append(spark, t,
      Seq((6L, "c", 2L)).toDF("k", "part_col", "ord"))
    assert(v2 === 2L)
    assert(rowsOf(t).size === 6)
    assert(rowsOf(t, 1L).size === 5, "version 1 must be unchanged")
    // partition column re-attaches and prunes
    val pruned = SnapshotTable.read(spark, t).filter(col("part_col") === "a")
    assert(pruned.count() === 2)
  }

  test("upsert rewrites ONLY affected partitions; untouched files carry forward by path") {
    val t = tmpTable("graft_snap_up")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    val before = SnapshotTable.manifest(spark, t)
      .select("path", "part").as[(String, String)].collect().toMap
    // update key 1 (partition a), insert key 9 into new partition d
    val v2 = SnapshotTable.upsertKeepLast(spark, t,
      Seq((1L, "a", 5L), (9L, "d", 5L)).toDF("k", "part_col", "ord"),
      Seq("k", "part_col"), "ord")
    assert(v2 === 2L)
    val after = SnapshotTable.manifest(spark, t)
      .select("path", "part").as[(String, String)].collect().toMap
    // partitions b and c keep their exact old file paths
    val oldUntouched = before.filter { case (_, p) => p != "part_col=a" }
    assert(oldUntouched.toSet.subsetOf(after.toSet),
      "unaffected partitions must carry their old files forward")
    // partition a's files are new paths
    assert(after.filter(_._2 == "part_col=a").keySet
      .intersect(before.filter(_._2 == "part_col=a").keySet).isEmpty)
    val got = rowsOf(t)
    assert(got.contains((1L, "a", 5L)) && !got.contains((1L, "a", 1L)))
    assert(got.contains((9L, "d", 5L)) && got.size === 6)
    // old snapshot still reads the pre-merge state
    assert(rowsOf(t, 1L).contains((1L, "a", 1L)))
  }

  test("a pinned snapshot survives later commits untouched (isolation without locks)") {
    val t = tmpTable("graft_snap_iso")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    val pinned = SnapshotTable.read(spark, t, 1L) // reader holds v1
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((3L, "b", 9L)).toDF("k", "part_col", "ord"), Seq("k", "part_col"), "ord")
    SnapshotTable.compact(spark, t)
    // the pinned plan still evaluates to v1's content after two commits
    assert(pinned.select("k", "part_col", "ord").as[(Long, String, Long)]
      .collect().toSet === seed.as[(Long, String, Long)].collect().toSet)
  }

  test("compact folds to one commit branch with identical rows; vacuum reclaims history") {
    val t = tmpTable("graft_snap_cmp")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    SnapshotTable.append(spark, t, Seq((6L, "a", 2L)).toDF("k", "part_col", "ord"))
    SnapshotTable.append(spark, t, Seq((7L, "b", 2L)).toDF("k", "part_col", "ord"))
    val beforeRows = rowsOf(t)
    val commitsBefore = SnapshotTable.manifest(spark, t)
      .select("path").as[String].collect()
      .map(_.split("/").take(2).mkString("/")).toSet
    assert(commitsBefore.size === 3)
    SnapshotTable.compact(spark, t)
    assert(rowsOf(t) === beforeRows)
    val commitsAfter = SnapshotTable.manifest(spark, t)
      .select("path").as[String].collect()
      .map(_.split("/").take(2).mkString("/")).toSet
    assert(commitsAfter.size === 1, "compaction must fold to one commit subtree")
    val deleted = SnapshotTable.vacuum(spark, t, keepVersions = 1)
    assert(deleted > 0)
    assert(rowsOf(t) === beforeRows, "latest must survive vacuum")
    assert(SnapshotTable.versions(spark, t) === Seq(4L))
    intercept[Exception](SnapshotTable.read(spark, t, 1L).collect())
  }

  test("a reader pinned within the vacuum retention window survives vacuum") {
    // the retention contract (Delta/Iceberg-style): keepVersions is the
    // operator's promise to pinned readers — a version inside the
    // window keeps ALL its files through a vacuum; only versions
    // beyond it are reclaimed (the documented trade, asserted by the
    // intercept in the compact test).
    val t = tmpTable("graft_snap_pin")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((1L, "a", 99L)).toDF("k", "part_col", "ord"), Seq("k"), "ord")
    SnapshotTable.append(spark, t, Seq((8L, "c", 3L)).toDF("k", "part_col", "ord"))
    val vs = SnapshotTable.versions(spark, t)
    val pinnedV = vs(vs.length - 2) // previous version, inside keep-2
    val pinned = SnapshotTable.read(spark, t, pinnedV)
    val expect = pinned.select("k").as[Long].collect().toSet // materialize pre-vacuum
    SnapshotTable.vacuum(spark, t, keepVersions = 2)
    assert(SnapshotTable.read(spark, t, pinnedV).select("k").as[Long].collect().toSet
      === expect, "a version inside keepVersions must stay fully readable")
    assert(pinned.select("k").as[Long].collect().toSet === expect,
      "a frame pinned before the vacuum must still collect")
  }

  test("an unpublished commit is invisible and vacuum reclaims it") {
    val t = tmpTable("graft_snap_dead")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    // simulate a writer dying after its data write, before publish:
    // files land under data/ but no manifest names them
    seed.write.partitionBy("part_col")
      .parquet(s"$t/data/commit-deadbeef")
    assert(rowsOf(t).size === 5, "uncommitted files must be invisible")
    val deleted = SnapshotTable.vacuum(spark, t, keepVersions = 1)
    assert(deleted >= 3, "the dead commit's files must be reclaimed")
    assert(rowsOf(t).size === 5)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/data/commit-deadbeef")))
  }

  test("unpartitioned tables upsert as one unit and round-trip") {
    val t = tmpTable("graft_snap_flat")
    SnapshotTable.create(spark, t, seed.drop("part_col"))
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((2L, 7L), (8L, 7L)).toDF("k", "ord"), Seq("k"), "ord")
    val got = SnapshotTable.read(spark, t).select("k", "ord")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (2L, 7L), (3L, 1L), (4L, 1L), (5L, 1L), (8L, 7L)))
  }

  test("upsert matches Hive-escaped and null partition values (no silent duplicates)") {
    // partition values the raw `c=value` concat can never match on
    // disk: a space (escaped %20), a colon+slash (%3A / %2F), and null
    // (__HIVE_DEFAULT_PARTITION__). Before the r7 fix these partitions
    // kept their old files AND got merged rows — duplicate keys.
    val t = tmpTable("graft_snap_esc")
    val tricky = Seq(
      (1L, Some("a b"), 1L), (2L, Some("x:y/z"), 1L), (3L, None: Option[String], 1L)
    ).toDF("k", "part_col", "ord")
    SnapshotTable.create(spark, t, tricky, Seq("part_col"))
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((1L, Some("a b"), 5L), (2L, Some("x:y/z"), 5L), (3L, None: Option[String], 5L))
        .toDF("k", "part_col", "ord"),
      Seq("k"), "ord")
    val got = SnapshotTable.read(spark, t).select("k", "ord")
      .as[(Long, Long)].collect().sorted
    assert(got === Seq((1L, 5L), (2L, 5L), (3L, 5L)),
      s"every key must appear exactly once with the updated ord, got ${got.toSeq}")
    // and the affected partitions' old files must NOT carry forward
    val after = SnapshotTable.manifest(spark, t)
      .select("path").as[String].collect().toSet
    val before = SnapshotTable.manifest(spark, t, 1L)
      .select("path").as[String].collect().toSet
    assert(after.intersect(before).isEmpty,
      "all partitions were updated, so no old file may survive in the new manifest")
  }

  test("the first commit refuses a directory that is not a snapshot table, leaving it untouched") {
    // the layout a raw partitioned parquet writer leaves: dt= dirs and a
    // _SUCCESS marker, no _manifests — a fresh version 1 holding only
    // the new batch would silently shadow every row in it
    val t = tmpTable("graft_snap_raw")
    Seq((1L, "2024-01-01", 1L), (2L, "2024-01-02", 1L)).toDF("k", "dt", "ord")
      .write.partitionBy("dt").parquet(t)
    def listing: Set[(String, Long, Long)] = {
      val root = java.nio.file.Paths.get(t)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map { p =>
        val f = p.toFile
        (root.relativize(p).toString, f.length, f.lastModified)
      }.toSet
      finally walk.close()
    }
    val before = listing
    val batch = Seq((3L, "2024-01-03", 1L)).toDF("k", "dt", "ord")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.upsertOrCreate(spark, t, batch, Seq("k"), "ord", Seq("dt"))
    }
    assert(e.getMessage.contains("not a snapshot table"), e.getMessage)
    intercept[IllegalArgumentException] {
      SnapshotTable.create(spark, t, batch, Seq("dt"))
    }
    assert(listing === before, "a refused commit must not add, change or remove a file")
    assert(SnapshotTable.versions(spark, t).isEmpty)
  }

  test("append and overwrite publish version 1 on a fresh path and refuse a foreign directory") {
    val a = tmpTable("graft_snap_app1")
    assert(SnapshotTable.append(spark, a, seed) === 1L)
    assert(SnapshotTable.manifest(spark, a).select("partition_cols").as[String].collect().toSet === Set(""))
    assert(rowsOf(a) === seed.as[(Long, String, Long)].collect().toSet)
    val o = tmpTable("graft_snap_ow1")
    assert(SnapshotTable.overwrite(spark, o, seed, Seq("part_col")) === 1L)
    assert(rowsOf(o) === rowsOf(a))
    val raw = tmpTable("graft_snap_app_raw")
    seed.write.parquet(raw)
    intercept[IllegalArgumentException](SnapshotTable.append(spark, raw, seed))
    intercept[IllegalArgumentException](SnapshotTable.overwrite(spark, raw, seed))
    assert(SnapshotTable.versions(spark, raw).isEmpty)
  }

  test("commitBatch commits once per (writer, batch), skips from the log with no job, refuses outside a stream") {
    val t = tmpTable("graft_snap_txn")
    val sc = spark.sparkContext
    def commit(batchId: Long, df: org.apache.spark.sql.DataFrame): Boolean =
      SnapshotTable.commitBatch(spark, t, batchId)(SnapshotTable.append(spark, t, df, _))
    intercept[IllegalStateException](commit(0L, seed))
    assert(SnapshotTable.versions(spark, t).isEmpty)
    def asWriter[T](writer: String)(body: => T): T = {
      sc.setLocalProperty("sql.streaming.queryId", writer)
      try body finally sc.setLocalProperty("sql.streaming.queryId", null)
    }
    asWriter("w1") {
      assert(commit(0L, seed.filter($"k" <= 2L)))
      assert(SnapshotTable.properties(spark, t) === Map("txn.w1" -> "0"))
      // a replay of batch 0, or of any earlier batch, is skipped from the log
      val (again, n) = JobCount.of(sc)(SnapshotTable.commitBatch(spark, t, 0L)(
        _ => fail("a committed batch must not run its commit")))
      assert(!again && n === 0, s"the skip started $n jobs")
      assert(commit(1L, seed.filter($"k" === 3L)))
    }
    // another stream writes its own record beside w1's
    asWriter("w2")(assert(commit(0L, seed.filter($"k" >= 4L))))
    assert(SnapshotTable.properties(spark, t) === Map("txn.w1" -> "1", "txn.w2" -> "0"))
    assert(asWriter("w1")(!commit(1L, seed)))
    assert(SnapshotTable.versions(spark, t) === Seq(1L, 2L, 3L))
    assert(rowsOf(t) === seed.as[(Long, String, Long)].collect().toSet)
  }

  test("upsert ties on orderCol resolve deterministically with the update winning") {
    val t = tmpTable("graft_snap_tie")
    SnapshotTable.create(spark, t, Seq((1L, "stored", 5L)).toDF("k", "v", "ord"))
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((1L, "update", 5L)).toDF("k", "v", "ord"), Seq("k"), "ord") // same ord
    val got = SnapshotTable.read(spark, t).select("v").as[String].collect().toSeq
    assert(got === Seq("update"), "on an orderCol tie the incoming update must win")
  }

  test("compact honors targetFilesPerPartition") {
    val t = tmpTable("graft_snap_tfp")
    val wide = spark.range(0, 1000)
      .selectExpr("id AS k", "CAST(id % 2 AS STRING) AS part_col", "id AS ord")
    SnapshotTable.create(spark, t, wide, Seq("part_col"))
    SnapshotTable.compact(spark, t, targetFilesPerPartition = 4)
    val filesPerPart = SnapshotTable.manifest(spark, t)
      .groupBy("part").count().as[(String, Long)].collect().toMap
    assert(filesPerPart.keySet === Set("part_col=0", "part_col=1"))
    filesPerPart.foreach { case (p, n) =>
      assert(n >= 2 && n <= 4, s"$p: expected 2..4 files for target 4, got $n")
    }
    assert(SnapshotTable.read(spark, t).count() === 1000)
    // unpartitioned: exactly the target file count
    val t2 = tmpTable("graft_snap_tfp_flat")
    SnapshotTable.create(spark, t2, wide.drop("part_col"))
    SnapshotTable.compact(spark, t2, targetFilesPerPartition = 3)
    assert(SnapshotTable.manifest(spark, t2).count() === 3L)
    assert(SnapshotTable.read(spark, t2).count() === 1000)
  }

  test("publish refuses an existing target version instead of nesting into it (lost commit)") {
    import org.apache.hadoop.fs.Path
    val dir = new Path(tmpTable("graft_snap_race"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    def stage(name: String): Path = {
      val p = new Path(dir, name)
      fs.mkdirs(p)
      val out = fs.create(new Path(p, "manifest.json")); out.write(1); out.close()
      p
    }
    val target = new Path(dir, "v00000001")
    SnapshotTable.atomicPublishDir(fs, stage(".tmp-winner"), target)
    assert(fs.exists(new Path(target, "manifest.json")), "winner publishes cleanly")

    // first, the raw Hadoop hazard the guard exists for: rename into an
    // existing dir returns TRUE and nests the source — the old code
    // reported this as a committed version
    val hazard = stage(".tmp-hazard")
    assert(fs.rename(hazard, target) === true, "Hadoop rename nests and claims success")
    assert(fs.exists(new Path(target, ".tmp-hazard")), "the losing dir nested silently")
    fs.delete(new Path(target, ".tmp-hazard"), true)

    // the guard: a losing publish throws a retryable conflict, cleans
    // its staging, and leaves the winner's version untouched
    val loser = stage(".tmp-loser")
    val ex = intercept[IllegalStateException] {
      SnapshotTable.atomicPublishDir(fs, loser, target)
    }
    assert(ex.getMessage.contains("conflict"))
    assert(!fs.exists(loser), "staging dir must be cleaned up")
    assert(fs.listStatus(target).forall(!_.getPath.getName.startsWith(".tmp-")),
      "nothing may nest inside the winner's version dir")
    assert(fs.exists(new Path(target, "manifest.json")), "winner intact")
  }

  test("torn publish: staged manifest with no rename is invisible, vacuum reclaims it") {
    // crash window: data files written, manifest STAGED under .tmp-*,
    // process dies before the rename. Readers must still see the last
    // published version; vacuum must reclaim both the orphan data and
    // the orphan staging dir.
    val t = tmpTable("graft_snap_torn")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the torn writer's data files
    Seq((9L, "z", 9L)).toDF("k", "part_col", "ord")
      .write.partitionBy("part_col").parquet(s"$t/data/commit-torn0001")
    // ... and its staged-but-never-renamed manifest
    val staged = java.nio.file.Paths.get(s"$t/_manifests/.tmp-torn0001")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.writeString(staged.resolve("manifest.json"),
      """{"entries":[{"path":"data/commit-torn0001/part_col=z/x.parquet","part":"part_col=z"}],""" +
        s""""partition_cols":["part_col"],"schema":${seed.drop("part_col").schema.json}}""")
    assert(SnapshotTable.versions(spark, t) === Seq(1L),
      "a staged manifest must not be a visible version")
    assert(rowsOf(t).size === 5, "readers still see the last published version")
    SnapshotTable.vacuum(spark, t, keepVersions = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/data/commit-torn0001")),
      "vacuum reclaims the torn commit's data subtree")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/_manifests/.tmp-torn0001")),
      "vacuum reclaims the orphaned manifest staging dir")
    assert(rowsOf(t).size === 5)
  }

  test("append evolves the schema: added columns merge, old commits null-fill, type change throws") {
    val t = tmpTable("graft_snap_evo")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    // a newer producer ships an extra nullable column
    val v2 = SnapshotTable.append(spark, t,
      Seq((6L, "c", 2L, "fresh")).toDF("k", "part_col", "ord", "note"))
    assert(v2 === 2L)
    val back = SnapshotTable.read(spark, t)
    assert(back.columns.toSet === Set("k", "part_col", "ord", "note"))
    val notes = back.select("k", "note").as[(Long, Option[String])]
      .collect().toMap
    assert(notes(6L) === Some("fresh"))
    assert((1L to 5L).forall(notes(_).isEmpty), "pre-evolution rows null-fill the added column")
    // an OLDER producer (missing the new column) still appends — null-filled
    val v3 = SnapshotTable.append(spark, t,
      Seq((7L, "a", 3L)).toDF("k", "part_col", "ord"))
    assert(v3 === 3L)
    assert(SnapshotTable.read(spark, t).count() === 7)
    // a type change is a breaking deploy: refuse before any file lands
    val filesBefore = SnapshotTable.manifest(spark, t).count()
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, t,
        Seq((8L, "a", "NOT_A_LONG")).toDF("k", "part_col", "ord"))
    }
    assert(SnapshotTable.manifest(spark, t).count() === filesBefore,
      "a refused append must not publish")
    // time travel still reads the pre-evolution schema
    assert(SnapshotTable.read(spark, t, 1L).columns.toSet
      === Set("k", "part_col", "ord"))
  }

  test("upsert follows the same schema-evolution contract as append") {
    val t = tmpTable("graft_snap_evoup")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    // newer producer MERGES with an added column: update key 1, add key 9
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((1L, "a", 5L, Some("touched")), (9L, "d", 5L, Some("new")))
        .toDF("k", "part_col", "ord", "note"),
      Seq("k", "part_col"), "ord")
    val got = SnapshotTable.read(spark, t)
      .select("k", "ord", "note").as[(Long, Long, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((5L, Some("touched"))))
    assert(got(9L) === ((5L, Some("new"))))
    assert(got(3L) === ((1L, None)), "untouched old rows null-fill the added column")
    // older producer upserts WITHOUT the evolved column: null-filled, merges fine
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((3L, "b", 7L)).toDF("k", "part_col", "ord"), Seq("k", "part_col"), "ord")
    val after = SnapshotTable.read(spark, t)
      .select("k", "ord", "note").as[(Long, Long, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after(3L) === ((7L, None)))
    assert(after(1L) === ((5L, Some("touched"))), "evolved values survive an old-schema merge")
    // type-changed MERGE refuses before any commit
    val vBefore = SnapshotTable.latestVersion(spark, t)
    intercept[IllegalArgumentException] {
      SnapshotTable.upsertKeepLast(spark, t,
        Seq((2L, "a", "NOT_A_LONG")).toDF("k", "part_col", "ord"),
        Seq("k", "part_col"), "ord")
    }
    assert(SnapshotTable.latestVersion(spark, t) === vBefore)
  }

  test("MERGE from a producer omitting a partition column null-fills like append") {
    // the round-7 advisor finding: affectedParts used to be computed
    // from the PRE-evolution batch, so a missing partition column blew
    // up with an unresolved-column error on merge while append handled
    // the identical batch. Evolution now runs first on both paths.
    val t = tmpTable("graft_snap_missingpart")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((10L, 9L)).toDF("k", "ord"), Seq("k", "part_col"), "ord")
    val got = rowsOfNullable(t)
    assert(got.contains((10L, null, 9L)),
      "the batch row must null-fill the missing partition column")
    assert(got.size === 6, "existing rows must be untouched")
    // and a second such merge updates the default-partition key in place
    SnapshotTable.upsertKeepLast(spark, t,
      Seq((10L, 11L)).toDF("k", "ord"), Seq("k", "part_col"), "ord")
    val after = rowsOfNullable(t)
    assert(after.contains((10L, null, 11L)) && !after.contains((10L, null, 9L)))
  }

  private def rowsOfNullable(path: String): Set[(Long, String, Long)] =
    SnapshotTable.read(spark, path).select("k", "part_col", "ord")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSet

  test("concurrent writers: every commit lands once, result equals the sequential fold") {
    val t = tmpTable("graft_snap_conc")
    val nThreads = 4
    val perThread = 5
    val keySpace = 6L
    // operation (thread, ord, keys): ord is globally unique so keep-last
    // is order-independent — the expected table is the same whatever
    // interleaving the optimistic-concurrency retries produce
    val ops = for (th <- 0 until nThreads; i <- 0 until perThread) yield {
      val ord = (th * perThread + i + 1).toLong
      (th, ord, Seq(ord % keySpace, (ord + 1) % keySpace))
    }
    import java.util.concurrent.{Executors, TimeUnit, ConcurrentLinkedQueue}
    val pool = Executors.newFixedThreadPool(nThreads)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    ops.groupBy(_._1).foreach { case (_, thOps) =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          thOps.foreach { case (_, ord, keys) =>
            val batch = keys.map(k => (k, ord, s"p$ord")).toDF("k", "ord", "payload")
            SnapshotTable.retryOnConflict(attempts = 200) {
              SnapshotTable.upsertOrCreate(spark, t, batch, Seq("k"), "ord")
            }
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "writers timed out")
    assert(failures.isEmpty, s"a writer failed: ${failures.peek()}")
    assert(SnapshotTable.versions(spark, t).size === nThreads * perThread,
      "every commit must land exactly once (no lost or duplicated publishes)")
    val expected = ops.flatMap { case (_, ord, keys) => keys.map(k => (k, ord)) }
      .groupBy(_._1).map { case (k, rows) =>
        val ord = rows.map(_._2).max
        (k, ord, s"p$ord")
      }.toSet
    val got = SnapshotTable.read(spark, t).select("k", "ord", "payload")
      .as[(Long, Long, String)].collect().toSet
    assert(got === expected, "final table must equal the sequential fold by max ord")
  }

  test("retryOnConflict re-executes a conflicted commit against the new latest") {
    val t = tmpTable("graft_snap_retry")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    // first attempt loses a simulated race; the retried op re-reads
    // latestVersion inside append and lands cleanly
    var attempts = 0
    val v = SnapshotTable.retryOnConflict(attempts = 3) {
      attempts += 1
      if (attempts == 1)
        throw new IllegalStateException("commit conflict publishing v2 — retry against latest")
      SnapshotTable.append(spark, t, Seq((9L, "a", 9L)).toDF("k", "part_col", "ord"))
    }
    assert(v === 2L && attempts === 2)
    assert(rowsOf(t).size === 6)
    // exhausted attempts rethrow the conflict
    val ex = intercept[IllegalStateException] {
      SnapshotTable.retryOnConflict(attempts = 2) {
        throw new IllegalStateException("commit conflict publishing — retry against latest")
      }
    }
    assert(ex.getMessage.contains("conflict"))
    // non-conflict failures are NOT retried
    var calls = 0
    intercept[RuntimeException] {
      SnapshotTable.retryOnConflict(attempts = 5) {
        calls += 1; throw new RuntimeException("boom")
      }
    }
    assert(calls === 1, "only publish conflicts may retry")
  }

  test("vacuum counts only parquet data files and keeps live sidecars") {
    val t = tmpTable("graft_snap_side")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    SnapshotTable.compact(spark, t) // v2; v1's files become garbage
    val v1Files = SnapshotTable.manifest(spark, t, 1L).count()
    val deleted = SnapshotTable.vacuum(spark, t, keepVersions = 1)
    assert(deleted === v1Files,
      s"deleted count must equal v1's parquet file count ($v1Files), got $deleted")
    assert(rowsOf(t).size === 5, "live commit must read fine after vacuum")
  }

  /** A table with two commit branches: v1 and one append. */
  private def twoBranches(prefix: String): String = {
    val t = tmpTable(prefix)
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    SnapshotTable.append(spark, t, Seq((6L, "c", 2L)).toDF("k", "part_col", "ord"))
    t
  }

  test("building read(...) runs no Spark job") {
    val t = twoBranches("graft_snap_jobs_read")
    val (df, n) = JobCount.of(spark.sparkContext)(SnapshotTable.read(spark, t))
    assert(n === 0, s"read(...) started $n jobs before any action")
    assert(df.count() === 6)
  }

  test("manifest(...).collect() runs no Spark job") {
    val t = twoBranches("graft_snap_jobs_mf")
    val (rows, n) = JobCount.of(spark.sparkContext)(SnapshotTable.manifest(spark, t).collect())
    assert(n === 0, s"manifest collect started $n jobs")
    assert(rows.map(_.getString(2)).toSet === Set("part_col"))
    assert(rows.length >= 4)
  }

  test("vacuum runs no Spark job") {
    val t = twoBranches("graft_snap_jobs_vac")
    SnapshotTable.compact(spark, t)
    val (deleted, n) = JobCount.of(spark.sparkContext)(SnapshotTable.vacuum(spark, t, keepVersions = 1))
    assert(n === 0, s"vacuum started $n jobs")
    assert(deleted > 0)
    assert(rowsOf(t).size === 6)
  }

  test("an append of a small unpartitioned frame runs only its data-write job") {
    val t = tmpTable("graft_snap_jobs_app")
    SnapshotTable.create(spark, t, seed.drop("part_col"))
    val batch = Seq((6L, 2L)).toDF("k", "ord")
    val (v, n) = JobCount.of(spark.sparkContext)(SnapshotTable.append(spark, t, batch))
    assert(v === 2L && n === 1, s"append started $n jobs")
    assert(SnapshotTable.read(spark, t).count() === 6)
  }

  test("a partitioned keep-last upsert resolves its affected partitions in one job") {
    val t = tmpTable("graft_snap_jobs_upsert")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    val batch = Seq((1L, "a", 2L), (6L, "d", 2L), (7L, "a", 2L)).toDF("k", "part_col", "ord")
    // one job resolves the touched partitions, then the merge's shuffle
    // map stage and its write: three in all
    val (v, n) = JobCount.of(spark.sparkContext)(
      SnapshotTable.upsertOrCreate(spark, t, batch, Seq("k"), "ord", Seq("part_col")))
    assert(v === 2L && n === 3, s"upsert started $n jobs")
    assert(rowsOf(t) === Set((1L, "a", 2L), (2L, "a", 1L), (3L, "b", 1L), (4L, "b", 1L),
      (5L, "c", 1L), (6L, "d", 2L), (7L, "a", 2L)))
  }

  test("a partitioned table created from an empty frame keeps its partitioning") {
    val t = tmpTable("graft_snap_empty")
    val batch = Seq((1L, "2024-01-01", 1L), (2L, "2024-01-02", 1L)).toDF("k", "dt", "ord")
    assert(SnapshotTable.create(spark, t, batch.limit(0), Seq("dt")) === 1L)
    assert(SnapshotTable.manifest(spark, t).collect().isEmpty)
    SnapshotTable.upsertOrCreate(spark, t, batch, Seq("k"), "ord", Seq("dt"))
    val parts = SnapshotTable.manifest(spark, t).select("part").as[String].collect().toSet
    assert(parts === Set("dt=2024-01-01", "dt=2024-01-02"),
      "the second commit must write at the table's partitioning")
    assert(SnapshotTable.read(spark, t).schema("dt").dataType === DateType)
  }

  test("read's schema equals an inferring read for date-like, digit-only, Hive-escaped and null partitions") {
    // what a direct `spark.read.parquet` of the version's files reports:
    // partition types inferred from the paths, data columns nullable
    def inferred(t: String): StructType = {
      val files = SnapshotTable.manifest(spark, t).select("path").as[String].collect().toSeq
      val commits = files.map(_.split("/").take(2).mkString("/")).distinct
      assert(commits.length === 1)
      spark.read.option("basePath", s"$t/${commits.head}")
        .parquet(files.map(f => s"$t/$f"): _*).schema
    }
    Seq(
      "date-like" -> Seq(Some("2024-01-01"), Some("2024-01-02")),
      "digit-only" -> Seq(Some("7"), Some("42")),
      "Hive-escaped" -> Seq(Some("a b"), Some("x:y/z")),
      "null" -> Seq(Some("a"), None)
    ).foreach { case (kind, values) =>
      val t = tmpTable("graft_snap_fid")
      SnapshotTable.create(spark, t,
        values.zipWithIndex.map { case (p, i) => (i.toLong, p, 1L) }.toDF("k", "part_col", "ord"),
        Seq("part_col"))
      assert(SnapshotTable.read(spark, t).schema === inferred(t), kind)
      SnapshotTable.append(spark, t, Seq((9L, values.head, 2L)).toDF("k", "part_col", "ord"))
      SnapshotTable.compact(spark, t)
      assert(SnapshotTable.read(spark, t).schema === inferred(t), s"$kind, compacted")
    }
    // a column added by append null-fills the older commit's rows under
    // the stored schema, with data columns before partition columns
    val t = tmpTable("graft_snap_fid_evo")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    SnapshotTable.append(spark, t, Seq((6L, "c", 2L, "fresh")).toDF("k", "part_col", "ord", "note"))
    val back = SnapshotTable.read(spark, t)
    assert(back.columns.toSeq === Seq("k", "ord", "note", "part_col"))
    val notes = back.select("k", "note").as[(Long, Option[String])].collect().toMap
    assert(notes(6L) === Some("fresh") && (1L to 5L).forall(notes(_).isEmpty))
  }

  test("a version without manifest.json is refused with an error naming the table") {
    val t = tmpTable("graft_snap_oldfmt")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    // version 2 as an older writer published it: a parquet manifest
    Seq(("data/commit-old/part_col=a/x.parquet", "part_col=a", "part_col"))
      .toDF("path", "part", "partition_cols")
      .coalesce(1).write.parquet(s"$t/_manifests/v00000002")
    Seq[(String, () => Any)](
      "read" -> (() => SnapshotTable.read(spark, t)),
      "manifest" -> (() => SnapshotTable.manifest(spark, t)),
      "append" -> (() => SnapshotTable.append(spark, t, seed)),
      "vacuum" -> (() => SnapshotTable.vacuum(spark, t, keepVersions = 1))
    ).foreach { case (op, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains(t) && e.getMessage.contains("manifest.json"), s"$op: ${e.getMessage}")
    }
    assert(rowsOf(t, 1L).size === 5, "the current-format version still reads")
  }

  test("version properties carry forward across append, upsert, compact and vacuum") {
    val t = tmpTable("graft_snap_props")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    assert(SnapshotTable.properties(spark, t) === Map.empty)
    SnapshotTable.append(spark, t, Seq((6L, "c", 2L)).toDF("k", "part_col", "ord"),
      Map("a" -> "1", "b" -> "x"))
    val want = Map("a" -> "1", "b" -> "x")
    assert(SnapshotTable.properties(spark, t, 1L) === Map.empty, "time travel reads its own")
    SnapshotTable.upsertKeepLast(spark, t, Seq((1L, "a", 3L)).toDF("k", "part_col", "ord"),
      Seq("k"), "ord")
    assert(SnapshotTable.properties(spark, t) === want, "upsert")
    SnapshotTable.compact(spark, t)
    assert(SnapshotTable.properties(spark, t) === want, "compact")
    SnapshotTable.vacuum(spark, t, keepVersions = 1)
    assert(SnapshotTable.properties(spark, t) === want, "vacuum")
    SnapshotTable.append(spark, t, Seq((7L, "d", 4L)).toDF("k", "part_col", "ord"))
    assert(SnapshotTable.properties(spark, t) === want, "append without properties")
  }

  test("a commit overrides only the properties it sets") {
    val t = tmpTable("graft_snap_props_ovr")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    SnapshotTable.append(spark, t, seed.limit(1), Map("a" -> "1", "b" -> "2"))
    SnapshotTable.upsertOrCreate(spark, t, seed.limit(1), Seq("k"), "ord",
      properties = Map("b" -> "3", "c" -> "4"))
    assert(SnapshotTable.properties(spark, t) === Map("a" -> "1", "b" -> "3", "c" -> "4"))
    SnapshotTable.overwrite(spark, t, seed, Seq("part_col"), Map("a" -> "5"))
    assert(SnapshotTable.properties(spark, t) === Map("a" -> "5", "b" -> "3", "c" -> "4"))
    assert(rowsOf(t) === rowsOf(t, 1L), "overwrite replaces the rows")
    assert(SnapshotTable.properties(spark, t, 3L) === Map("a" -> "1", "b" -> "3", "c" -> "4"))
  }

  test("a manifest without properties reads as empty; the next commit adds them") {
    val t = tmpTable("graft_snap_props_old")
    SnapshotTable.create(spark, t, seed, Seq("part_col"))
    // version 1 as the previous manifest.json writer left it: no `properties`
    val mf = java.nio.file.Paths.get(t, "_manifests", "v00000001", "manifest.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mf.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("properties")
    java.nio.file.Files.write(mf, node.toString.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(mf.resolveSibling(".manifest.json.crc"))
    assert(!new String(java.nio.file.Files.readAllBytes(mf), "UTF-8").contains("properties"))
    assert(SnapshotTable.properties(spark, t) === Map.empty)
    assert(rowsOf(t).size === 5)
    SnapshotTable.append(spark, t, seed.limit(1), Map("k" -> "v"))
    assert(SnapshotTable.properties(spark, t) === Map("k" -> "v"))
  }

  test("IVF centroid doubles round-trip bit-exactly, subnormals and signed zeros") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(7)
    val special = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.longBitsToDouble(0x000fffffffffffffL), java.lang.Double.MIN_NORMAL,
      Double.MaxValue, Double.MinValue, 0.1, 1.0 / 3, -2.5e-300, 123456.789e10)
    val random = Iterator.continually(java.lang.Double.longBitsToDouble(rnd.nextLong()))
      .filter(d => !d.isNaN && !d.isInfinite).take(52).toSeq
    val cells = (special ++ random).grouped(8).toSeq.map(_.toArray)
    val centroids = cells.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val assigned = cells.indices.map(i => (i.toLong, Array.fill(8)(1.0), 8.0, i))
      .toDF("vec_id", "v", "norm2", "cell")
    val store = tmpTable("graft_snap_centroids")
    Similarity.writeIvfVersioned(Similarity.IvfIndex(centroids, assigned), store)
    val back = Similarity.loadIvfVersioned(spark, store).centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
    assert(back.length === cells.length)
    back.foreach { case (cell, c) =>
      assert(c.map(java.lang.Double.doubleToRawLongBits) ===
        cells(cell).toSeq.map(java.lang.Double.doubleToRawLongBits), s"cell $cell")
    }
  }

  test("a crashed IVF append's stray commit is invisible; redelivery lands once") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val base = emb.filter(col("vec_id") < n / 2)
    val batch = emb.filter(col("vec_id") >= n / 2)
    val store = tmpTable("graft_snap_ivf_crash")
    val built = Similarity.buildIvf(base)
    Similarity.writeIvfVersioned(built, store)
    // the crashed append: its rows written under a commit subtree, the
    // manifest (and with it the raised hwm) never published
    Similarity.appendToIvf(Similarity.IvfIndex(built.centroids, built.assigned.limit(0)), batch)
      .assigned.write.partitionBy("cell").parquet(s"$store/data/commit-crashed")
    assert(SnapshotTable.versions(spark, store) === Seq(1L))
    assert(SnapshotTable.read(spark, store).count() === n / 2, "stray files are invisible")
    assert(SnapshotTable.properties(spark, store).get("hwm") === Some(s"${n / 2 - 1}"))
    // redelivery under the monotone guard lands every row exactly once
    Similarity.appendToIvfPartitioned(store, batch, monotoneIds = true)
    val grown = SnapshotTable.read(spark, store)
    assert(grown.count() === n && grown.select("vec_id").distinct().count() === n)
    assert(SnapshotTable.properties(spark, store).get("hwm") === Some(s"${n - 1}"))
    // ≡ the in-memory append cell-for-cell, and vacuum reclaims the stray files
    val mem = Similarity.appendToIvf(Similarity.loadIvfVersioned(spark, store, 1), batch)
    assert(grown.select("vec_id", "cell").as[(Long, Int)].collect().toSet ===
      mem.assigned.select("vec_id", "cell").as[(Long, Int)].collect().toSet)
    SnapshotTable.vacuum(spark, store, keepVersions = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store, "data", "commit-crashed")))
  }

  test("loading an IVF and a PQ store and taking nCells runs no Spark job") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val ivf = Similarity.buildIvf(emb)
    val pq = Similarity.trainPq(emb)
    val ivfStore = tmpTable("graft_snap_ivf_jobs")
    val pqStore = tmpTable("graft_snap_pq_jobs")
    Similarity.writeIvfVersioned(ivf, ivfStore)
    Similarity.writeIvfPqVersioned(ivf.centroids, pq.codebooks, Similarity.pqCodesOf(ivf, pq), pqStore)
    val ((cells, pqCells, mSubs), n) = JobCount.of(spark.sparkContext) {
      val loaded = Similarity.loadIvfVersioned(spark, ivfStore)
      val (centroids, model, _) = Similarity.loadIvfPqVersioned(spark, pqStore)
      (loaded.nCells, centroids.collect().length, model.mSubs)
    }
    assert(n === 0, s"loading the stores started $n jobs")
    assert(cells === 16 && pqCells === 16 && mSubs === pq.mSubs)
  }
}
