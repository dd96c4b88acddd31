package graft

import graft.sources.ResultCache
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Contract tests for the TTL'd materialized result cache: hit
  * short-circuits compute, expiry recomputes, invalidation forces a
  * miss, keys are canonical over params, and every path is a
  * correctness no-op vs the uncached query.
  */
class ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def root(): String =
    java.nio.file.Files.createTempDirectory("graft_rescache").toString

  test("key is canonical: same query+params in any order, distinct otherwise") {
    val a = ResultCache.keyOf("SELECT 1", Seq("p1=2024-01-01", "p2=42"))
    val b = ResultCache.keyOf("SELECT 1", Seq("p2=42", "p1=2024-01-01"))
    val c = ResultCache.keyOf("SELECT 1", Seq("p2=43", "p1=2024-01-01"))
    val d = ResultCache.keyOf("SELECT 2", Seq("p1=2024-01-01", "p2=42"))
    assert(a === b)
    assert(a != c && a != d)
    assert(a.matches("[0-9a-f]{64}"))
  }

  test("hit within TTL short-circuits compute; expiry and invalidation recompute") {
    val dir = root()
    var clock = 1000L
    var computes = 0
    def cached(): org.apache.spark.sql.DataFrame =
      ResultCache.getOrCompute(spark, dir, ResultCache.keyOf("q", Seq("a")),
        ttlMs = 300000L, nowMs = () => clock) {
        computes += 1
        Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      }
    val first = cached().as[(Long, String)].collect().toSet
    assert(computes === 1 && first === Set((1L, "x"), (2L, "y")))
    // second call inside the TTL: served from the stored rows, compute not run
    clock += 200000L
    assert(cached().as[(Long, String)].collect().toSet === first)
    assert(computes === 1, "a fresh entry must short-circuit the compute")
    // past the TTL: recompute and re-publish
    clock += 200000L
    assert(cached().as[(Long, String)].collect().toSet === first)
    assert(computes === 2, "an expired entry must recompute")
    // explicit invalidation forces a miss even inside the TTL
    assert(ResultCache.invalidate(spark, dir, ResultCache.keyOf("q", Seq("a"))))
    clock += 1000L
    assert(cached().as[(Long, String)].collect().toSet === first)
    assert(computes === 3, "invalidation must force a recompute")
  }

  test("cache round-trips a real query identically (correctness no-op)") {
    val dir = root()
    val ev = Tables.events(spark, sfDir)
    def agg() = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    val direct = agg().as[(String, Long, Double)].collect().toSet
    val viaCache = ResultCache.getOrCompute(spark, dir,
      ResultCache.keyOf("agg_by_type", Seq(sfDir)), ttlMs = 60000L)(agg())
      .as[(String, Long, Double)].collect().toSet
    assert(viaCache === direct)
    // and the hit path too
    val viaHit = ResultCache.getOrCompute(spark, dir,
      ResultCache.keyOf("agg_by_type", Seq(sfDir)), ttlMs = 60000L)(
        sys.error("must not recompute"))
      .as[(String, Long, Double)].collect().toSet
    assert(viaHit === direct)
  }

  test("key encoding is injective across the query/params boundary") {
    // a delimiter-free concat would collide every one of these
    assert(ResultCache.keyOf("ab", Nil) != ResultCache.keyOf("a", Seq("b")))
    assert(ResultCache.keyOf("q", Seq("ab")) != ResultCache.keyOf("q", Seq("a", "b")))
    assert(ResultCache.keyOf("qa", Seq("b")) != ResultCache.keyOf("q", Seq("a", "b")))
    assert(ResultCache.keyOf("q\u0000b", Nil) != ResultCache.keyOf("q", Seq("b")))
  }

  test("a reader holding an expired-then-refreshed entry still collects") {
    // the round-7 race: reader passes the freshness check, a refresher
    // expires+recomputes, old code deleted the live dir out from under
    // the reader. Generations are immutable now — hold the old frame
    // across a refresh and collect it afterwards.
    val dir = root()
    var clock = 1000L
    val key = ResultCache.keyOf("race", Nil)
    def cached(rows: Seq[Long]) =
      ResultCache.getOrCompute(spark, dir, key, ttlMs = 1000L,
        nowMs = () => clock)(rows.toDF("k"))
    val held = cached(Seq(1L, 2L)) // publishes gen 1, frame still lazy
    clock += 5000L                 // expire it
    val refreshed = cached(Seq(3L, 4L)) // publishes gen 2 (must NOT delete gen 1)
    assert(held.as[Long].collect().toSet === Set(1L, 2L),
      "a frame read before a refresh must survive the refresh")
    assert(refreshed.as[Long].collect().toSet === Set(3L, 4L))
    // a third refresh past ttl + grace reclaims generation 1; the
    // previous latest (generation 2) is always retained for draining
    // readers
    clock += 40000L
    cached(Seq(5L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(dir, key))
      .map(_.getPath.getName).filter(_.startsWith("e-"))
    assert(gens.length === 2,
      s"age-graced GC should retain newest + previous latest, saw ${gens.toSeq}")
  }

  test("invalidate marks stale without breaking an in-flight frame") {
    val dir = root()
    val key = ResultCache.keyOf("inv", Nil)
    var computes = 0
    def cached() = ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L) {
      computes += 1; Seq(computes.toLong).toDF("k")
    }
    cached()
    val held = cached() // hit: lazy frame over generation 1
    assert(computes === 1)
    assert(ResultCache.invalidate(spark, dir, key))
    assert(held.as[Long].collect().toSet === Set(1L),
      "invalidate must not yank data under an in-flight frame")
    assert(cached().as[Long].collect().toSet === Set(2L) && computes === 2,
      "invalidate must force the next read to recompute")
  }

  test("snapshot-table commit invalidates registered keys, unrelated keys still serve") {
    import graft.sources.SnapshotTable
    val dir = root()
    val table = root() + "/tbl"
    val dep = ResultCache.keyOf("dashboard", Seq(table))
    val other = ResultCache.keyOf("unrelated", Nil)
    ResultCache.invalidateOnCommit(spark, table, dir, Seq(dep))
    try {
      SnapshotTable.create(spark, table,
        Seq((1L, "a", 1L)).toDF("id", "v", "seq"))
      var computes = 0
      def dash() = ResultCache.getOrCompute(spark, dir, dep, ttlMs = 600000L) {
        computes += 1
        SnapshotTable.read(spark, table).groupBy().count()
      }
      var others = 0
      def unrelated() = ResultCache.getOrCompute(spark, dir, other, ttlMs = 600000L) {
        others += 1; Seq(1L).toDF("k")
      }
      assert(dash().as[Long].head() === 1L); dash()
      unrelated(); unrelated()
      assert(computes === 1 && others === 1)
      // the write: upsert a second row -> hook fires -> dep key stale
      SnapshotTable.upsertKeepLast(spark, table,
        Seq((2L, "b", 2L)).toDF("id", "v", "seq"), Seq("id"), "seq")
      assert(dash().as[Long].head() === 2L,
        "read-after-write: the dependent key must recompute on commit")
      assert(computes === 2)
      unrelated()
      assert(others === 1, "an unrelated key must keep serving its entry")
    } finally SnapshotTable.clearCommitHooks(table)
  }

  test("hammered by concurrent expired-refreshers: no failures, every read complete") {
    // 6 threads × 25 iterations on ONE key with ttl=1ms (real clock):
    // every call takes the expired-recompute path, so publishes, reads,
    // and generation GC all race each other continuously. Contract
    // under test: no call may throw and every returned frame must
    // collect the full row set — a torn read or a generation deleted
    // out from under a racer's just-returned frame fails here.
    val dir = root()
    val key = ResultCache.keyOf("stress", Nil)
    val expect = (1L to 20L).toSet
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val tasks = (1 to 6).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            var i = 0
            while (i < 25) {
              val got = ResultCache.getOrCompute(spark, dir, key, ttlMs = 1L)(
                spark.range(1, 21).toDF("k"))
                .as[Long].collect().toSet
              assert(got === expect, s"incomplete read: $got")
              i += 1
            }
          } catch { case t: Throwable => errors.add(t) }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    assert(errors.isEmpty,
      s"concurrent cache traffic failed (${errors.size} errors): ${errors.peek()}")
  }

  test("distinct params cache independently; clear drops everything") {
    val dir = root()
    var computes = 0
    def q(p: String) = ResultCache.getOrCompute(spark, dir,
      ResultCache.keyOf("q", Seq(p)), ttlMs = 60000L) {
      computes += 1; Seq(p).toDF("p")
    }
    q("a"); q("b"); q("a")
    assert(computes === 2, "one compute per distinct param set")
    ResultCache.clear(spark, dir)
    q("a")
    assert(computes === 3, "clear must empty the cache")
  }

  test("sweep honors the grace of a just-invalidated key and of a live staging") {
    val dir = root()
    ResultCache.getOrCompute(spark, dir, "k", ttlMs = 60000L)(Seq(1L).toDF("v"))
    ResultCache.invalidate(spark, dir, "k")
    // stripped stamp ≠ infinitely old: invalidate's contract lets
    // in-flight readers drain published data, so the sweep must grant
    // the generation its full ttl+grace from the STRIP (dir mtime)
    assert(ResultCache.sweep(spark, dir, ttlMs = 1000L) === 0,
      "just-invalidated key must survive the sweep")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "k")))
    // a staging older than the reader grace but younger than an hour is
    // a possibly-live publish, not debris
    val tmp = java.nio.file.Paths.get(dir, "k", ".tmp-live")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000L))
    assert(ResultCache.sweep(spark, dir, ttlMs = 1000L) === 0,
      "2-minute-old staging is possibly a live write, not debris")
    // once genuinely aged, both the staging and the stripped key go
    val gen = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "k"))
      .filter(p => p.getFileName.toString.startsWith("e-")).findFirst().get()
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10_000_000L)
    java.nio.file.Files.setLastModifiedTime(gen, old)
    java.nio.file.Files.setLastModifiedTime(tmp, old)
    assert(ResultCache.sweep(spark, dir, ttlMs = 1000L) >= 2,
      "aged stripped key + aged staging reclaimed")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "k")))
  }

  test("all-stale sweep never takes a live staging with the key dir") {
    // The all-stale key is exactly the key a concurrent getOrCompute is
    // recomputing at sweep time: its young .tmp-* staging (and the
    // generation about to be published from it) must survive the sweep,
    // or the writer's rename fails and a serving call throws — the
    // advisor-flagged hole in the old whole-key-dir delete.
    val dir = root()
    ResultCache.getOrCompute(spark, dir, "k", ttlMs = 60000L)(Seq(1L).toDF("v"))
    val key = java.nio.file.Paths.get(dir, "k")
    val gen = java.nio.file.Files.list(key)
      .filter(p => p.getFileName.toString.startsWith("e-")).findFirst().get()
    java.nio.file.Files.setLastModifiedTime(gen,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10_000_000L))
    // age the stamp too, so EVERY generation reads as stale
    val stampPath = gen.resolve("_cached_at")
    java.nio.file.Files.writeString(stampPath,
      (System.currentTimeMillis() - 10_000_000L).toString)
    // a young staging: an in-flight publish racing the sweep
    val tmp = key.resolve(".tmp-inflight")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.writeString(tmp.resolve("part-0.parquet"), "x")
    assert(ResultCache.sweep(spark, dir, ttlMs = 1000L) === 1,
      "exactly the stale generation reclaimed")
    assert(!java.nio.file.Files.exists(gen), "stale generation gone")
    assert(java.nio.file.Files.exists(tmp.resolve("part-0.parquet")),
      "in-flight staging must survive an all-stale sweep")
    // and the racer's publish still lands: the key dir was not removed
    val df = ResultCache.getOrCompute(spark, dir, "k", ttlMs = 60000L)(
      Seq(2L).toDF("v"))
    assert(df.as[Long].collect().toSeq === Seq(2L))
  }

  private def generations(dir: String, key: String): Seq[java.nio.file.Path] = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir, key))
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("e-")).toSeq
    finally ls.close()
  }

  test("a hit's getOrCompute runs no Spark job before the caller's action") {
    val dir = root()
    val key = ResultCache.keyOf("jobs", Nil)
    def cached() = ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L)(
      Seq((1L, "x"), (2L, "y")).toDF("k", "v").groupBy("v").agg(sum("k").as("s")))
    cached().collect()
    val (hit, n) = JobCount.of(spark.sparkContext)(cached())
    assert(n === 0, s"a hit started $n jobs before its action")
    assert(hit.as[(String, Long)].collect().toSet === Set(("x", 1L), ("y", 2L)))
    // the stored schema is the computed one with every field nullable
    assert(hit.schema === org.apache.spark.sql.graft.Shims.asNullable(
      Seq((1L, "x")).toDF("k", "v").groupBy("v").agg(sum("k").as("s")).schema))
  }

  test("a generation without _schema is a miss that recomputes") {
    // the layout an older publisher left: data and stamp, no schema
    val dir = root()
    val key = ResultCache.keyOf("noschema", Nil)
    var computes = 0
    def cached() = ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L) {
      computes += 1; Seq(computes.toLong).toDF("k")
    }
    cached()
    generations(dir, key).foreach(g => java.nio.file.Files.delete(g.resolve("_schema")))
    assert(cached().as[Long].collect().toSeq === Seq(2L) && computes === 2,
      "a fresh generation without _schema must recompute, not fail")
    assert(cached().as[Long].collect().toSeq === Seq(2L) && computes === 2,
      "the republished generation serves")
  }

  test("a miss runs only its compute's jobs; its frame, a hit and the hit's collect run none") {
    val dir = root()
    val key = ResultCache.keyOf("misscount", Nil)
    def query() = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("m"))
      .agg(count(lit(1)).as("n"))
    val sc = spark.sparkContext
    val (direct, computeJobs) = JobCount.of(sc)(query().collect())
    assert(computeJobs > 0)
    val (miss, missJobs) = JobCount.of(sc)(
      ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L)(query()))
    assert(missJobs === computeJobs,
      s"a miss started $missJobs jobs; its compute alone starts $computeJobs")
    val (missRows, missCollect) = JobCount.of(sc)(miss.collect())
    assert(missCollect === 0, s"collecting a miss's frame started $missCollect jobs")
    val (hit, hitJobs) = JobCount.of(sc)(
      ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L)(sys.error("must not recompute")))
    val (hitRows, hitCollect) = JobCount.of(sc)(hit.collect())
    assert(hitJobs === 0 && hitCollect === 0,
      s"a hit started $hitJobs jobs and its collect $hitCollect")
    assert(missRows.toSet === direct.toSet && hitRows.toSet === direct.toSet)
  }

  test("a multi-partition frame ending in orderBy(desc) keeps its order on the miss and the hit") {
    val dir = root()
    val key = ResultCache.keyOf("ordered", Nil)
    def query() = spark.range(0, 500, 1, 8)
      .select(((col("id") * 7919) % 500).as("k"), (col("id") % 3).as("g"))
      .orderBy(col("k").desc)
    val expect = (0L until 500L).reverse
    val miss = ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L)(query())
    assert(miss.select("k").as[Long].collect().toSeq === expect)
    val hit = ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L)(sys.error("must not recompute"))
    assert(hit.select("k").as[Long].collect().toSeq === expect)
  }

  test("an older parquet generation and a rows header of another Spark version each recompute, then serve") {
    val dir = root()
    val key = ResultCache.keyOf("layouts", Nil)
    var computes = 0
    def cached() = ResultCache.getOrCompute(spark, dir, key, ttlMs = 60000L) {
      computes += 1; Seq(computes.toLong).toDF("k")
    }
    assert(cached().as[Long].collect().toSeq === Seq(1L))
    // the older layout: the rows stored as a data/ parquet directory
    generations(dir, key).foreach { g =>
      java.nio.file.Files.delete(g.resolve("rows"))
      Seq(1L).toDF("k").write.parquet(g.resolve("data").toString)
    }
    assert(cached().as[Long].collect().toSeq === Seq(2L) && computes === 2,
      "a generation without a rows file must recompute")
    assert(cached().as[Long].collect().toSeq === Seq(2L) && computes === 2,
      "the republished generation serves")
    // a rows file written by another Spark version: a whole, readable
    // file whose UnsafeRow layout this version does not vouch for
    val newest = generations(dir, key).maxBy(_.getFileName.toString)
    val out = new java.io.DataOutputStream(new java.util.zip.DeflaterOutputStream(
      java.nio.file.Files.newOutputStream(newest.resolve("rows"))))
    try { out.writeUTF("0.0.1-other"); out.writeInt(0) } finally out.close()
    assert(cached().as[Long].collect().toSeq === Seq(3L) && computes === 3,
      "a rows header naming another Spark version must recompute")
    assert(cached().as[Long].collect().toSeq === Seq(3L) && computes === 3,
      "the republished generation serves")
  }
}
