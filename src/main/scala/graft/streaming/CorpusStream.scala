package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis, TextDedup}
import graft.sources.SnapshotTable

/** Continuous corpus ingest — the streaming twin of
  * [[graft.ops.TextDedup.dedupIncremental]]: documents land as files,
  * each micro-batch runs the quality gate and is deduplicated against
  * the PERSISTED corpus index plus within itself, and only accepted
  * docs append to the cleaned store. This is the crawl-to-corpus path a
  * training pipeline runs continuously, built from the same operators
  * the batch path uses (one semantics, two cadences — same rule as the
  * events stream vs. batch queries; reference anchor: the consumer's
  * validate→dedupe→persist loop, consumer/main.py:277-376, applied to
  * text instead of sensor rows).
  *
  * Dedup contract (stated, not hidden): exact and near duplicates OF
  * THE INDEXED CORPUS are dropped, and exact duplicates WITHIN a
  * micro-batch collapse to their lowest doc_id. Near-dup pairs that
  * both arrive as NEW docs in different micro-batches are admitted —
  * the index is a snapshot, refreshed on the owner's cadence (rebuild
  * or [[graft.ops.TextDedup.writeDedupIndex]] append job), exactly how
  * production fuzzy-dedup services bound state: per-batch cost is
  * batch × index-collisions, never batch × stream-history.
  *
  * Scale shape: every join inside the batch function is the
  * spec-locked incremental-dedup plan (digest/band-key equi-joins with
  * NO Exchange on the bucketed index side); the stream never holds
  * engine state beyond file-source progress, so there are no state
  * stores to size and checkpoint recovery is file-offset replay.
  */
object CorpusStream {

  /** One accepted-vs-dropped pass over a staged micro-batch: quality
    * gate → exact+near dedup vs `index` → within-batch exact collapse.
    * Exposed for the spec and for batch backfills (the stream applies
    * the same function per micro-batch).
    */
  def acceptBatch(index: TextDedup.DedupIndex, batch: DataFrame,
                  threshold: Double = 0.5): DataFrame =
    acceptBatchWithReport(index, batch, threshold)._1

  /** [[acceptBatch]] plus its per-batch funnel report, computed from
    * the SAME stage frames (dedupIncremental localCheckpoints its
    * survivor frame, so the accepted write and the report counts share
    * the materialized dedup work instead of re-running it). The report
    * is one row — n_in → quality fail → corpus dup → in-batch dup →
    * accepted, sequentially attributed so the stages sum to n_in — the
    * streaming twin of [[graft.ops.Curation.curationReport]] and of the
    * reference consumer's running stats (consumer/main.py:297-321),
    * emitted per micro-batch instead of polled.
    */
  def acceptBatchWithReport(index: TextDedup.DedupIndex, batch: DataFrame,
                            threshold: Double = 0.5): (DataFrame, DataFrame) = {
    val quality = batch.join(
      TextAnalysis.qualityFilter(batch).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val vsCorpus = TextDedup.dedupIncremental(index, quality, threshold)
    val accepted = vsCorpus.join(
      TextDedup.exact(vsCorpus).filter(!col("is_dup")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val report = batch.select(col("doc_id"))
      .join(quality.select(col("doc_id"), lit(1).as("__q")), Seq("doc_id"), "left")
      .join(vsCorpus.select(col("doc_id"), lit(1).as("__c")), Seq("doc_id"), "left")
      .join(accepted.select(col("doc_id"), lit(1).as("__a")), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_in"),
        count(when(col("__q").isNull, 1)).as("n_quality_fail"),
        count(when(col("__q").isNotNull && col("__c").isNull, 1)).as("n_corpus_dup"),
        count(when(col("__c").isNotNull && col("__a").isNull, 1)).as("n_batch_dup"),
        count(when(col("__a").isNotNull, 1)).as("n_accepted"))
    (accepted, report)
  }

  /** Continuous repeated-span rewrite — the streaming twin of
    * [[graft.ops.TextDedup.spanDedupIncremental]] with the cross-batch
    * first-occurrence contract made DURABLE: each micro-batch is
    * rewritten against the persisted span index (reloaded per batch, so
    * it sees every prior batch's appends), cleaned rows append to the
    * [[graft.sources.SnapshotTable]] at `destPath`, and the batch's new
    * span digests append to the index
    * ([[graft.ops.TextDedup.appendToSpanIndex]] — bucketed, anti-join
    * idempotent). A span first seen in batch N is therefore removed
    * from batch N+k for any k — unlike the near-dup stream (whose index
    * refreshes on the owner's cadence), the exact-span contract is
    * cheap enough to keep continuously consistent, because the append
    * is digest-only and ∝ the batch's distinct new spans. When batches
    * arrive in doc_id order the drained output equals the BATCH
    * span_dedup of everything, restricted to the streamed docs
    * (spec-asserted) — one semantics, two cadences.
    *
    * Exactly-once: the destination commit goes first, through
    * [[graft.sources.SnapshotTable.commitBatch]], then the digest
    * append. A replayed batch skips the destination commit — it must:
    * rewritten again, against an index that now holds the batch's own
    * spans, it would lose its own first occurrences — and re-runs only
    * the idempotent digest append.
    */
  def spanRewriteOnce(spark: SparkSession, srcDir: String,
                      tablePrefix: String, indexPath: String,
                      destPath: String, checkpointDir: String,
                      maxFilesPerTrigger: Int = 0): Unit =
    drainFiles(spark, srcDir, checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      // The previous batch's digest append ran through the MICRO-BATCH
      // session (frames built from `batch` carry its cloned session),
      // which invalidates only that clone's relation cache — this
      // session's cached file listing for the index table is stale.
      // Refresh before reloading or batch N+1 reads the pre-append
      // listing and misses batch N's spans.
      spark.catalog.refreshTable(s"${tablePrefix}_spans")
      val index = TextDedup.loadSpanIndex(spark, tablePrefix, indexPath)
      SnapshotTable.commitBatch(spark, destPath, batchId)(
        SnapshotTable.append(spark, destPath, TextDedup.spanDedupIncremental(index, batch), _))
      TextDedup.appendToSpanIndex(index, tablePrefix, batch)
      FaultInjection.maybeHalt(batchId)
    }

  /** Continuous DSIR selection — the streaming twin of
    * [[graft.ops.Corpus.dsirScore]]: documents land as files, each
    * micro-batch is scored against the PERSISTED importance model
    * ([[graft.ops.Corpus.writeDsirModel]] — trained offline on a
    * corpus snapshot, like any index build) and scored rows append to
    * the [[graft.sources.SnapshotTable]] at `destPath`. A document's
    * score depends only on its own tokens and the static model, so the
    * drained stream equals the batch scoring row-for-row regardless of
    * batching (spec-asserted) — no state stores, no cross-batch
    * contract caveats. The model is MATERIALIZED once up front (1024
    * rows to the driver, rebuilt as a local frame), so micro-batches
    * neither re-read the path nor observe a concurrent retrain
    * mid-drain; each batch pays only its own token explode + broadcast
    * join. Each batch is one [[graft.sources.SnapshotTable.commitBatch]]
    * append, so a replay after a crash between the commit and the
    * checkpoint's commit log publishes nothing.
    */
  def dsirScoreOnce(spark: SparkSession, srcDir: String, modelPath: String,
                    destPath: String, checkpointDir: String,
                    maxFilesPerTrigger: Int = 0): Unit = {
    val loaded = graft.ops.Corpus.loadDsirModel(spark, modelPath)
    val model = spark.createDataFrame(
      java.util.Arrays.asList(loaded.collect(): _*), loaded.schema)
    drainFiles(spark, srcDir, checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      SnapshotTable.commitBatch(spark, destPath, batchId)(
        SnapshotTable.append(spark, destPath, graft.ops.Corpus.dsirScore(batch, model), _))
      FaultInjection.maybeHalt(batchId)
    }
  }

  /** Drain all staged document files ([[drainFiles]]) through the
    * ingest pipeline into the [[graft.sources.SnapshotTable]] at
    * `destPath`. If `statsPath` is set,
    * each micro-batch also appends its one-row funnel report
    * ([[acceptBatchWithReport]]) to the table there, tagged with
    * `run_id` (the stream's query id: stable across restarts of one
    * checkpoint, fresh when the checkpoint path is deleted and reused)
    * and `batch_id` — the ingest-health history a crawl operator
    * dashboards.
    *
    * Exactly-once: the destination and the report are each one
    * [[graft.sources.SnapshotTable.commitBatch]] append, which records
    * the batch id in the same manifest as the rows. A batch replayed
    * after a crash between a commit and the checkpoint's commit log
    * (StreamCrashCheck-gated) skips every commit that already landed,
    * and the gate runs only if one of them did not.
    *
    * `timingSink(batchId, stage, ms)` — optional per-batch stage
    * attribution for the bench/ops loop (stages: "gate" = quality +
    * dedup-vs-index incl. the eager survivor materialization inside
    * dedupIncremental; "append" = the destination commit; "report" =
    * the funnel-stats commit when statsPath is set; a skipped replay
    * records neither). No-op by default: production pays nothing,
    * StreamBench aggregates the p50/p99 per stage so a latency tail is
    * attributable instead of guessed at.
    */
  def ingestOnce(spark: SparkSession, srcDir: String,
                 index: TextDedup.DedupIndex, destPath: String,
                 checkpointDir: String, threshold: Double = 0.5,
                 statsPath: String = "", maxFilesPerTrigger: Int = 0,
                 timingSink: (Long, String, Double) => Unit = (_, _, _) => ()): Unit =
    drainFiles(spark, srcDir, checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      // dedupIncremental localCheckpoints two batch-sized frames per
      // call (cross-branch reuse); in a CONTINUOUS stream those pins
      // accumulate across micro-batches, so release every block this
      // batch created once its write has consumed them — a snapshot
      // diff so pre-existing pins (the index's own caches) survive
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      def staged[T](stage: String)(body: => T): T = timedStage(timingSink, batchId, stage)(body)
      // the gate runs only when a commit below needs it (a replayed
      // batch whose commits both landed skips it), timed apart from
      // the commit that forces it
      lazy val (accepted, report) = staged("gate")(acceptBatchWithReport(index, batch, threshold))
      def commit(path: String, stage: String)(rows: => DataFrame): Unit =
        SnapshotTable.commitBatch(spark, path, batchId) { txn =>
          val df = rows
          staged(stage)(SnapshotTable.append(spark, path, df, txn))
        }
      commit(destPath, "append")(accepted)
      if (statsPath.nonEmpty) commit(statsPath, "report")(report
        .withColumn("run_id", lit(SnapshotTable.streamWriter(spark)))
        .withColumn("batch_id", lit(batchId)).coalesce(1))
      sc.getPersistentRDDs.filterNot { case (id, _) => before.contains(id) }
        .foreach { case (_, rdd) => rdd.unpersist(false) }
      FaultInjection.maybeHalt(batchId)
    }
}
