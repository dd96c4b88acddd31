package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Streaming throughput/latency bench (r10 verdict item 6: the E-family
  * was equivalence-proven but never MEASURED). Drives the two
  * continuous-ingest paths a deployment actually runs — each through
  * its REAL entry point, split into many micro-batches via
  * maxFilesPerTrigger=1 so per-batch latency is observable:
  *
  *   - '''corpus ingest''' ([[streaming.CorpusStream.ingestOnce]]):
  *     document batches through validate→dedup-vs-index→append;
  *   - '''embedding ingest''' ([[streaming.EmbeddingStream.ingestOnce]]):
  *     vector batches assigned against the stored coarse quantizer and
  *     appended into affected `cell=` partitions;
  *   - '''ANN query serving''' ([[streaming.EmbeddingStream.queryOnce]]):
  *     query batches probing the persisted index.
  *
  * Per-workload metrics, from the engine's own StreamingQueryListener
  * progress events (the numbers a Structured Streaming operator
  * monitors in production): sustained rows/s over the drain, and
  * p50/p99 micro-batch latency (triggerExecution, data batches only).
  * Prints ONE JSON line; `runMain graft.StreamBench [sfDir] [nBatches]`,
  * out file via SPARK_GRAFT_STREAM_OUT.
  */
object StreamBench {

  /** `onBatch` fires once per progress event — the bench threads its
    * work-root liveness refresh through it (ScratchDirs.touch), so a
    * multi-hour drain keeps its root visibly alive to a concurrent
    * Maintain sweep with an aggressive --scratch-age-ms (r15 advisor:
    * only the sliced verify refreshed its marker; the bench never did).
    */
  private final class ProgressTap(onBatch: () => Unit = () => ())
      extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rows = e.progress.numInputRows
      val dur = Option(e.progress.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      if (rows > 0) batches.add((rows, dur))
      onBatch()
    }
  }

  /** Per-execution read mass of the served index — rows, files, and
    * `cell=` partitions each query actually scanned, from the engine's
    * own FileSourceScanExec metrics. This is the attribution the r14
    * slope question needs: if partitions ≈ nCells the cell equi-join is
    * NOT pruning and per-batch cost is a full corpus scan; if
    * partitions ≈ |batch|×nProbe the scan is bounded and the tail owner
    * is elsewhere (planning overhead, file count, rerank).
    */
  private final class ScanTap(pathFragment: String)
      extends org.apache.spark.sql.util.QueryExecutionListener {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    override def onSuccess(fn: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           ns: Long): Unit =
      try {
        val scans = walk(qe.executedPlan).collect {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(pathFragment)) => s
        }
        if (scans.nonEmpty) {
          def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
          execs.add((scans.map(m(_, "numOutputRows")).sum,
            scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numPartitions")).sum))
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    override def onFailure(fn: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           ex: Exception): Unit = ()
    def json: String = {
      import scala.jdk.CollectionConverters._
      val xs = execs.asScala.toSeq
      def pcts(sel: ((Long, Long, Long)) => Long): String = {
        val sorted = xs.map(sel).sorted
        if (sorted.isEmpty) """{"p50":0,"max":0}"""
        else s"""{"p50":${sorted(sorted.length / 2)},"max":${sorted.last}}"""
      }
      s"""{"execs":${xs.length},"rows":${pcts(_._1)},"files":${pcts(_._2)},"partitions":${pcts(_._3)}}"""
    }
  }

  private def stats(tap: ProgressTap, wallSec: Double): (Long, Int, Double, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val bs = tap.batches.asScala.toSeq
    val rows = bs.map(_._1).sum
    val durs = bs.map(_._2).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L else durs(math.min(durs.length - 1, (p * durs.length).toInt))
    (rows, bs.length, if (wallSec > 0) rows / wallSec else 0.0, pct(0.5), pct(0.99))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(20)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "stream_bench.json")
    // SPARK_GRAFT_STREAM_WORKLOADS selects workloads (default all): at
    // sf100 the ANN-serving campaign runs embedding+query alone — the
    // corpus-ingest funnel is measured at sf1/sf10 where its doc volume
    // fits a bench window.
    val workloads = sys.env.getOrElse("SPARK_GRAFT_STREAM_WORKLOADS",
      "corpus,embedding,query").split(",").map(_.trim).toSet
    // Long-running-driver posture, same rationale as Bench: a session
    // driving ~100 streaming micro-batches (each an append shuffle,
    // plus full-layout compaction rewrites at sf100) accumulates
    // shuffle files until the DRIVER GCs — measured live: 21 GB of
    // blockmgr spill during one sf100 ingest+drain on an 80 GB heap
    // that never felt pressure, which is a disk-exhaustion kill on
    // this host and a local-disk bill on a real cluster. The periodic
    // GC keeps the ContextCleaner backlog batch-sized.
    val spark = GraftSession.builder(defaultCpus = "8")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // ScratchDirs, not a bare temp dir: the work dir holds staged
    // sources + the cloned/growing index (8.5 GB at sf100) — the exit
    // hook reclaims it on normal exit, the ownership marker makes a
    // crashed run's survivor sweepable by Maintain (r15: four
    // watchdog-killed bench runs left ~35 GB of unreclaimed work dirs,
    // which then starved the NEXT run's disk watchdog). acquireLocal,
    // not acquire: the bench manipulates this root with java.nio APIs
    // (hardlink cloning below), so a scheme'd GRAFT_SCRATCH must
    // normalize to a local path or fall back to a local temp dir.
    val work = graft.sources.ScratchDirs.acquireLocal(spark, "graft-stream-bench")
    val touchWork = () => graft.sources.ScratchDirs.touch(spark, work)

    def staged(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val dir = s"$work/$name"
      df.repartition(nBatches).write.parquet(dir)
      dir
    }

    // Staging for the MONOTONE-producer lane (the embedding ingest):
    // the hwm redelivery guard's contract is that batch k's ids all
    // exceed batch k−1's — a round-robin staging violates it (batch 1
    // carries ~the global max id, so the guard filters every later
    // batch as redelivered: measured live as appended_twin share 0.013
    // and 429 post-ingest files instead of ~5k). Range-partition the
    // source so each file holds one contiguous ascending id range, then
    // stamp ascending mtimes in range order: the file source replays a
    // backlog oldest-mtime-first, so delivery order = id order, which
    // is exactly what a real id-assigning embed stage produces.
    def stagedMonotone(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val dir = s"$work/$name"
      df.repartitionByRange(nBatches, col("vec_id")).write.parquet(dir)
      val partFiles = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val base = System.currentTimeMillis() - partFiles.length * 1000L
      partFiles.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(base + i * 1000L) }
      dir
    }

    def timed(tap: ProgressTap)(run: => Unit): Double = {
      spark.streams.addListener(tap)
      val t0 = System.nanoTime()
      try run finally spark.streams.removeListener(tap)
      (System.nanoTime() - t0) / 1e9
    }

    // one decimal on rows/s: an integer print renders a slow-but-live
    // drain (80 rows / 365 s) as 0, which reads as a failure (r14)
    def block(rows: Long, batches: Int, rps: Double, p50: Long, p99: Long, wall: Double) =
      s"""{"rows":$rows,"batches":$batches,"rows_per_sec":${f"$rps%.1f"},""" +
        s""""batch_p50_ms":$p50,"batch_p99_ms":$p99,"wall_sec":${f"$wall%.1f"}}"""
    def stageJsonOf(stageTimes: java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]): String = {
      import scala.jdk.CollectionConverters._
      stageTimes.asScala.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (stage, xs) =>
        val sorted = xs.map(_._2).sorted
        def pct(p: Double) = sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
        s""""$stage":{"n":${xs.length},"p50_ms":${f"${pct(0.5)}%.0f"},"p99_ms":${f"${pct(0.99)}%.0f"},"max_ms":${f"${sorted.last}%.0f"}}"""
      }.mkString("{", ",", "}")
    }
    val parts = scala.collection.mutable.ArrayBuffer[String]()

    // ---- workload 1: corpus ingest (dedup-vs-index funnel) ----
    if (workloads("corpus")) {
      val docs = Tables.documents(spark, sfDir)
      val index = graft.ops.TextDedup.buildDedupIndex(docs)
      // new docs: fresh ids, text perturbed so the stream does real
      // near-dup work instead of exact-digest short-circuits
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val newDocs = docs.select((col("doc_id") + maxId + 1).as("doc_id"),
        concat(col("text"), lit(" streamed suffix")).as("text"))
      val docsSrc = staged(newDocs, "docs_src")
      val corpusTap = new ProgressTap(touchWork)
      // per-stage attribution (r11 item 5): WHERE a tail batch spends its
      // time — gate (quality+dedup materialization) vs append vs report
      val stageTimes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
      val corpusWall = timed(corpusTap) {
        graft.streaming.CorpusStream.ingestOnce(spark, docsSrc, index,
          s"$work/docs_dest", s"$work/docs_ckpt", maxFilesPerTrigger = 1,
          timingSink = (_, stage, ms) => stageTimes.add((stage, ms)))
      }
      val (cRows, cBatches, cRps, cP50, cP99) = stats(corpusTap, corpusWall)
      parts += s""""corpus_ingest":${block(cRows, cBatches, cRps, cP50, cP99, corpusWall)}"""
      parts += s""""corpus_stage_ms":${stageJsonOf(stageTimes)}"""
    }

    // ---- workload 2+3 serve the PERSISTED layout (r14 verdict item 2:
    // the bench used to rebuild a full KMeans index inside its own JVM —
    // at sf100 a 2 M-vector build that wedged the run for hours while the
    // campaign's stored 1024-cell layout sat on disk). The versioned
    // store is the SAME home AnnServing serves from: ServingLayouts
    // honors GRAFT_SERVE_ROOT and keys the home to the CURRENT corpus
    // content stamp, so a stale layout built for a regenerated corpus
    // can never be reused — it resolves to a different home and triggers
    // a fresh build (the r14 advisor's signature-validation concern,
    // answered by construction). The bench MUTATES its index (workload 2
    // appends), so it clones the store into the work dir by hardlinking
    // its root (`data/` and `_manifests/`) instead of appending into the
    // shared store other processes serve from: data files and manifests
    // are immutable, links cost nothing, and the store is never touched.
    // The latest manifest carries the centroids and the high-water mark
    // the ingest's O(batch) redelivery guard needs.
    if (workloads("embedding") || workloads("query")) {
      import graft.sources.SnapshotTable
      val embTable = Tables.embeddings(spark, sfDir)
      val emb = graft.ops.Similarity.prepared(embTable)
      val store = graft.ops.AnnServing.storeIn(
        graft.sources.ServingLayouts.dirFor("ivf", sfDir))
      val reused = SnapshotTable.versions(spark, store).nonEmpty
      if (!reused)
        graft.ops.Similarity.writeIvfVersioned(
          graft.ops.Similarity.buildIvf(embTable,
            graft.ops.LshGeometry.ivf(embTable.count())._1), store,
          geometryIntent = Some(false))
      val idxPath = s"$work/ivf_index"
      val walk = Files.walk(Paths.get(store))
      try walk.forEach { src =>
        val dst = Paths.get(idxPath).resolve(Paths.get(store).relativize(src).toString)
        if (Files.isDirectory(src)) Files.createDirectories(dst)
        else try Files.createLink(dst, src)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING) }
      } finally walk.close()
      // SERVED geometry — read back from the stored layout, never re-derived
      val nCells = graft.ops.Similarity.loadIvfVersioned(spark, idxPath).nCells
      val nProbe = graft.ops.LshGeometry.ivfProbe(nCells)
      parts += s""""n_cells":$nCells"""
      parts += s""""n_probe":$nProbe"""
      parts += s""""index_reused":$reused"""
      val maxVec = emb.agg(max("vec_id")).head.getLong(0)

      // ---- workload 2: embedding ingest (append into stored IVF cells) ----
      if (workloads("embedding")) {
        val newVecs = embTable.withColumn("vec_id", col("vec_id") + maxVec + 1)
        val embSrc = stagedMonotone(newVecs, "emb_src")
        val embTap = new ProgressTap(touchWork)
        // scan attribution for the append's redelivery guard: under the
        // monotone high-water-mark guard a steady-state batch scans NO
        // stored ids (the r15 full anti-join read the entire stored
        // vec_id column — 3.0 M rows / 7.6 k files per batch at sf100);
        // these metrics are the proof the guard now costs ∝ batch
        val ingestScanTap = new ScanTap("ivf_index/data")
        val ingestStages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
        spark.listenerManager.register(ingestScanTap)
        val embWall =
          try timed(embTap) {
            // autoCompact armed at the measured 8-files/cell knee: the
            // bench drives enough batches to ratchet past it, so the
            // drain exercises (and times, via the stage sink) the
            // compaction a long-running ingest needs
            graft.streaming.EmbeddingStream.ingestOnce(spark, embSrc, idxPath,
              s"$work/emb_ckpt", maxFilesPerTrigger = 1,
              autoCompactFilesPerCell = 8,
              timingSink = (_, stage, ms) => ingestStages.add((stage, ms)))
          } finally spark.listenerManager.unregister(ingestScanTap)
        val (eRows, eBatches, eRps, eP50, eP99) = stats(embTap, embWall)
        parts += s""""embedding_ingest":${block(eRows, eBatches, eRps, eP50, eP99, embWall)}"""
        parts += s""""embedding_ingest_guard_scan":${ingestScanTap.json}"""
        parts += s""""embedding_ingest_stage_ms":${stageJsonOf(ingestStages)}"""
        // post-ingest layout state: the auto-compact contract is that
        // file count stays bounded WITHOUT a manual maintenance step
        parts += s""""index_files_after_ingest":${
          SnapshotTable.manifest(spark, idxPath).collect().length}"""
        parts += s""""index_version":${SnapshotTable.latestVersion(spark, idxPath)}"""
      }

      // ---- workload 3: ANN query serving over the (grown) index ----
      if (workloads("query")) {
        val querySrc = staged(embTable
          .filter(col("vec_id") < nBatches * 4), "query_src")
        def drain(tag: String): (Long, Int, Long, Long, Double, Int, String, String) = {
          val qTap = new ProgressTap(touchWork)
          val qStages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
          val scanTap = new ScanTap("ivf_index/data")
          spark.listenerManager.register(scanTap)
          var qLoads = 0
          val qWall =
            try timed(qTap) {
              qLoads = graft.streaming.EmbeddingStream.queryOnce(spark, querySrc, idxPath,
                s"$work/query_dest_$tag", s"$work/query_ckpt_$tag", nProbe = nProbe,
                maxFilesPerTrigger = 1,
                timingSink = (_, stage, ms) => qStages.add((stage, ms)))
            } finally spark.listenerManager.unregister(scanTap)
          val (_, qBatches, _, qP50, qP99) = stats(qTap, qWall)
          // served-query count from the OUTPUT, not the engine's
          // numInputRows: the served form runs two actions per batch
          // (probe-cell collect + scored write) and the file source
          // re-counts its input rows once per action — the progress
          // metric double-counts while the output is the truth
          val qServed = SnapshotTable.read(spark, s"$work/query_dest_$tag")
            .select("query_id").distinct().count()
          (qServed, qBatches, qP50, qP99, qWall, qLoads,
            stageJsonOf(qStages), scanTap.json)
        }

        // the first drain reads the layout with whatever page cache the
        // ingest left; `ann_query_warm` repeats the same queries warm
        val (qServed, qBatches, qP50, qP99, qWall, qLoads, qStageJson, qScanJson) =
          drain("cold")
        parts += s""""ann_query":${block(qServed, qBatches,
          if (qWall > 0) qServed / qWall else 0.0, qP50, qP99, qWall)}"""
        parts += s""""ann_query_stage_ms":$qStageJson"""
        parts += s""""ann_query_index_scan":$qScanJson"""
        // the stamp-poll observable: a quiescent drain reloads the index
        // exactly once no matter how many micro-batches it serves
        parts += s""""ann_query_index_loads":$qLoads"""

        val (wServed, wBatches, wP50, wP99, wWall, wLoads, wStageJson, wScanJson) =
          drain("warm")
        parts += s""""ann_query_warm":${block(wServed, wBatches,
          if (wWall > 0) wServed / wWall else 0.0, wP50, wP99, wWall)}"""
        // warm drains carry the same attribution as cold: when warm ≠
        // cold beyond cache effects, the stage/scan split names the owner
        parts += s""""ann_query_warm_stage_ms":$wStageJson"""
        parts += s""""ann_query_warm_index_scan":$wScanJson"""
        parts += s""""ann_query_warm_index_loads":$wLoads"""

        // ingest-while-serving proof: every streamed-in vector is an
        // exact twin (id + maxVec + 1) of an original, so a query's
        // top-2 must contain its own twin at cos 1.0 — served results
        // that include the appended vectors are the point of the
        // stamp-bump reload
        if (workloads("embedding")) {
          val res = SnapshotTable.read(spark, s"$work/query_dest_cold")
          val nQ = res.select("query_id").distinct().count()
          val twins = res.filter(col("rnk") <= 2 &&
              col("neighbor_id") === col("query_id") + maxVec + 1)
            .select("query_id").distinct().count()
          parts += s""""appended_twin_in_top2_share":${
            f"${twins.toDouble / math.max(1L, nQ)}%.3f"}"""
        }
      }
    }

    val json =
      s"""{"metric":"stream_bench","sf":"$sfDir","n_batches":$nBatches,""" +
        parts.mkString(",") + "}"
    println(json)
    Files.write(Paths.get(outPath), (json + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
