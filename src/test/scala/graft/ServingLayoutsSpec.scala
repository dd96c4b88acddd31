package graft

import graft.sources.{ServingLayouts, Sources}
import graft.ops.{DedupServing, TextDedup}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Lifecycle contract of the stable serving-layout homes:
  * deterministic per-(kind, corpus-version) paths, one publish rule
  * (the dedup layout appears by one atomicPublishDir inside its home),
  * home-mtime liveness, a rename-aside vacuum, cross-catalog
  * re-registration of bucketed layouts, and the DedupServing session
  * validation (a new session reloads the stored layout instead of
  * serving frames bound to the builder session).
  */
class ServingLayoutsSpec extends SparkSpec {
  import spark.implicits._

  /** Backdate `dir` far past any retention a test uses. */
  private def age(dir: String): Unit =
    Files.setLastModifiedTime(Paths.get(dir),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000000))

  private def names(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    finally s.close()
  }

  /** Trash siblings a vacuum of `home` may have left in the root. */
  private def siblings(home: String): Seq[String] =
    names(Paths.get(home).getParent.toString)
      .filter(_.startsWith(Paths.get(home).getFileName.toString + ".trash-"))

  /** A private copy of the documents table, so a test's home is its own. */
  private def isolatedDocuments(prefix: String): String = {
    val corpus = Files.createTempDirectory(prefix).toString
    Tables.documents(spark, sfDir).write.parquet(s"$corpus/documents.parquet")
    corpus
  }

  test("dirFor is stable per (kind, corpus) and moves when the corpus dir's mtime changes") {
    val corpus = Files.createTempDirectory("graft_sl_corpus").toString
    val a = ServingLayouts.dirFor("t", corpus)
    val b = ServingLayouts.dirFor("t", corpus)
    assert(a === b, "same corpus version must map to the same layout home")
    assert(a != ServingLayouts.dirFor("other", corpus))
    // simulate an in-place regeneration: the corpus dir's mtime moves
    Files.setLastModifiedTime(Paths.get(corpus),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(corpus)).toMillis + 60000))
    val c = ServingLayouts.dirFor("t", corpus)
    assert(c != a, "a regenerated corpus must not reuse the old content's layout")
  }

  test("vacuum reclaims only layouts idle past the retention window") {
    val corpusOld = Files.createTempDirectory("graft_sl_old").toString
    val corpusHot = Files.createTempDirectory("graft_sl_hot").toString
    val oldDir = ServingLayouts.dirFor("vac", corpusOld)
    val hotDir = ServingLayouts.dirFor("vac", corpusHot)
    Files.write(Paths.get(oldDir, "data"), "x".getBytes)
    Files.write(Paths.get(hotDir, "data"), "y".getBytes)
    // age the idle home well past retention; touch the hot one.
    // Retention sits far above any live suite's home age (the layout
    // root is shared by concurrently-running suites — only dirs this
    // test aged can cross the threshold).
    age(oldDir)
    ServingLayouts.touch(hotDir)
    val n = ServingLayouts.vacuum(maxAgeMs = 5000000)
    assert(n >= 1)
    assert(!Files.exists(Paths.get(oldDir)), "idle layout reclaimed")
    assert(siblings(oldDir).isEmpty, "the reclaimed home leaves no trash behind")
    assert(Files.exists(Paths.get(hotDir, "data")), "recently-served layout survives")
  }

  test("registerBucketedTable: a fresh catalog reuses a prior process's bucketed files with no exchange on the bucket side") {
    val df = (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v")
    val path = Files.createTempDirectory("graft_sl_bucketed").toString + "/t"
    Sources.writeBucketed(df, "graft_sl_reg_src", path, "k", 4)
    // simulate a new JVM: the files survive, the catalog entry does not
    spark.sql("DROP TABLE graft_sl_reg_src")
    Sources.registerBucketedTable(spark, "graft_sl_reg2", path, "k", 4)
    val reread = spark.table("graft_sl_reg2")
    assert(reread.count() === 2000)
    assert(reread.agg(sum("k")).head.getLong(0) === (1L to 2000L).sum)
    // the re-registered table must still join WITHOUT shuffling its side
    val probe = (1L to 50L).map(i => (i, i * 10)).toDF("k", "p")
      .repartition(4, col("k"))
    val joined = reread.join(probe.hint("shuffle_hash"), Seq("k"))
    val plan = joined.queryExecution.executedPlan
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect { case e: ShuffleExchangeExec => e }
    val scanSide = plan.collectLeaves().map(_.toString).mkString("\n")
    assert(scanSide.contains("graft_sl_reg2"))
    // exactly the probe side may exchange; the bucketed scan side must not
    val joinedExchanges = exchanges(plan)
    assert(joinedExchanges.size <= 1,
      s"bucketed side must not re-shuffle:\n${plan.toString.take(4000)}")
    assert(joined.count() === 50)
  }

  test("stamp includes table subdirs: rewriting INSIDE a table dir moves the layout home") {
    val corpus = Files.createTempDirectory("graft_sl_sub").toString
    val table = Files.createDirectory(Paths.get(corpus, "documents.parquet"))
    val a = ServingLayouts.dirFor("t", corpus)
    // an append/compaction that only touches files INSIDE the table dir
    // bumps the SUBDIR's mtime, not the corpus dir's — must still move
    Files.setLastModifiedTime(table,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(table).toMillis + 60000))
    val b = ServingLayouts.dirFor("t", corpus)
    assert(b != a, "a table rewritten in place must not be served from the old index")
  }

  test("an unreadable corpus dir fails loudly instead of sharing a defaulted layout") {
    intercept[IllegalArgumentException] {
      ServingLayouts.dirFor("t", "/nonexistent/graft/corpus/path")
    }
  }

  test("DedupServing: two builders racing one home publish exactly one layout; both serve identical survivors, the loser's build is removed") {
    val corpus = isolatedDocuments("graft_sl_race")
    val home = ServingLayouts.dirFor("dedup", corpus)
    val docs = Tables.documents(spark, corpus)
    val started = new java.util.concurrent.CountDownLatch(2)
    val sessions = Seq(spark, spark.newSession())
    val published = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = sessions.zipWithIndex.map { case (s, i) =>
      new Thread(() => try {
        published.add(ServingLayouts.publishedLayout(home) { dir =>
          started.countDown()
          // both builders in flight simultaneously
          started.await(120, java.util.concurrent.TimeUnit.SECONDS)
          TextDedup.writeDedupIndex(TextDedup.buildDedupIndexAuto(
            Tables.documents(s, corpus).filter(col("doc_id") % 5 =!= 4)),
            s"graft_sl_race_$i", dir)
          ()
        })
      } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"a racing builder failed: ${errors.toArray.mkString("; ")}")
    val layout = Paths.get(home, "layout").toString
    assert(published.toArray.toSeq === Seq(layout, layout),
      "both builders must return the one published layout")
    val entries = names(home)
    assert(entries.contains("layout"))
    assert(!entries.exists(_.startsWith("layout-")),
      s"the loser's build must be removed: $entries")
    assert(!names(layout).exists(_.startsWith("layout-")),
      "a losing publish must not leave its build nested in the winner's")
    assert(Seq("meta", "digests", "buckets", "shingles").forall(d =>
      Files.isDirectory(Paths.get(layout, d))), "the published layout is whole")
    assert(ServingLayouts.publishedLayout(home)(_ =>
      fail("a published layout must be reused, not rebuilt")) === layout)
    // both sessions serve the published layout, identically to the inline index
    val served = sessions.map(s =>
      DedupServing.dedupIncremental(s, corpus).select("doc_id").as[Long].collect().toSet)
    val inline = TextDedup.dedupIncremental(
      TextDedup.buildDedupIndexAuto(docs.filter(col("doc_id") % 5 =!= 4)),
      docs.filter(col("doc_id") % 5 === 4)).select("doc_id").as[Long].collect().toSet
    assert(inline.nonEmpty)
    assert(served.forall(_ === inline), "both sessions serve the inline survivors")
    assert(names(home).count(_.startsWith("layout")) === 1, "serving built nothing more")
  }

  test("a vacuum stopped after its rename-aside leaves the home absent, and the next vacuum reclaims the trash") {
    val corpus = Files.createTempDirectory("graft_sl_trash").toString
    val home = ServingLayouts.dirFor("trash", corpus)
    Files.createDirectories(Paths.get(home, "layout", "digests"))
    Files.write(Paths.get(home, "layout", "digests", "part-0"), "x".getBytes)
    // the first step of a vacuum, then a stop before the delete
    val aside = ServingLayouts.trash(Paths.get(home)).get
    assert(!Files.exists(Paths.get(home)), "the home is absent, never partial")
    assert(ServingLayouts.existingDirFor("trash", corpus).isEmpty)
    assert(ServingLayouts.homesFor("trash", corpus).isEmpty, "trash is never a home")
    assert(Files.exists(aside.resolve("layout/digests/part-0")), "the rename moved the home whole")
    // trash is reclaimed at any age: even a retention no home can exceed
    assert(ServingLayouts.vacuum(maxAgeMs = Long.MaxValue) >= 1)
    assert(!Files.exists(aside), "the next vacuum reclaims the trash")
    val fresh = ServingLayouts.dirFor("trash", corpus)
    assert(fresh === home && !Files.exists(Paths.get(fresh, "layout")),
      "the next resolve starts an empty home")
  }

  test("an unpublished layout build idle past retention is reclaimed inside a live home; the published layout survives") {
    val corpus = Files.createTempDirectory("graft_sl_builds").toString
    val home = ServingLayouts.dirFor("builds", corpus)
    val layout = ServingLayouts.publishedLayout(home)(d =>
      Files.write(Paths.get(d, "data"), "live".getBytes))
    val crashed = ServingLayouts.unpublishedLayout(home)(d =>
      Files.write(Paths.get(d, "data"), "crashed".getBytes))
    val young = ServingLayouts.unpublishedLayout(home)(d =>
      Files.write(Paths.get(d, "data"), "young".getBytes))
    age(crashed)
    ServingLayouts.touch(home)
    assert(ServingLayouts.vacuum(maxAgeMs = 5000000) >= 1)
    assert(!Files.exists(Paths.get(crashed)), "the idle unpublished build is reclaimed")
    assert(Files.exists(Paths.get(young, "data")), "a young build survives")
    assert(new String(Files.readAllBytes(Paths.get(layout, "data"))) === "live",
      "the published layout survives")
    assert(!names(home).exists(_.contains(".trash-")), "no trash left inside the home")
  }

  test("DedupServing touches the marker on EVERY serve and rebuilds if the layout is vacuumed under it") {
    // the liveness marker is the home directory's own mtime
    // ISOLATED corpus copy: the vacuum-under-server simulation must
    // reclaim only THIS test's home — suites run in parallel in one
    // JVM and share the per-user layout root, so a global
    // vacuum(maxAgeMs = -1) here could yank a layout another suite is
    // mid-serve on
    val corpus = isolatedDocuments("graft_sl_vac_corpus")
    val first = DedupServing.dedupIncremental(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    val dir = ServingLayouts.dirFor("dedup", corpus)
    // simulate a long-idle home, then a cache-hit serve: liveness must refresh
    age(dir)
    DedupServing.dedupIncremental(spark, corpus).count()
    val idle = System.currentTimeMillis() - Files.getLastModifiedTime(Paths.get(dir)).toMillis
    assert(idle < 5000000, "a cache-hit serve must refresh the home's mtime")
    // simulate a vacuum racing the live server: the home vanishes
    val aside = ServingLayouts.trash(Paths.get(dir)).get
    assert(!Files.exists(Paths.get(dir)), "vacuum reclaimed the home")
    val rebuilt = DedupServing.dedupIncremental(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(rebuilt === first, "a vacuumed home must be rebuilt, not served from dead frames")
    assert(Files.isDirectory(Paths.get(dir, "layout")), "the rebuild republished the layout")
    ServingLayouts.vacuum(maxAgeMs = Long.MaxValue) // reclaims only trash
    assert(!Files.exists(aside))
  }

  test("DedupServing: a NEW session reloads the stored layout and serves identical survivors") {
    val first = DedupServing.dedupIncremental(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    val s2 = spark.newSession()
    val second = DedupServing.dedupIncremental(s2, sfDir)
      .select("doc_id").as[Long].collect().toSet
    assert(second === first,
      "reloaded (re-registered) layout must serve the same survivors as the builder session")
  }
}
