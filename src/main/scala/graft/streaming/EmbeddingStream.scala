package graft.streaming

import org.apache.spark.sql.SparkSession
import graft.ops.Similarity
import graft.sources.SnapshotTable

/** Continuous vector ingest — the streaming face of
  * [[graft.ops.Similarity.appendToIvfPartitioned]]: embedding batches
  * land as files and each micro-batch is assigned against the stored
  * coarse quantizer and committed as new files of only the affected
  * `cell=` partitions of the persisted IVF store — the one store layout
  * ([[graft.ops.Similarity.writeIvfVersioned]]: a
  * [[graft.sources.SnapshotTable]] partitioned by `cell`, with the
  * centroids and high-water mark as version properties). This is how a vector store
  * grows under continuous embedding production (the crawl→embed→index
  * tail of the pipeline) without ever rebuilding or re-shuffling the
  * indexed corpus: per-batch cost ∝ batch size, and serving queries
  * ([[graft.ops.Similarity.queryIvf]]) see new vectors as soon as
  * their files land.
  *
  * Exactly-once is layered: the checkpoint makes each FILE processed
  * once per checkpoint lineage, and the append's high-water-mark
  * redelivery guard ([[graft.ops.Similarity.appendToIvfPartitioned]],
  * monotone form — one filter against the store's `hwm` property, cost
  * ∝ batch and never corpus) makes redelivery with a fresh/lost
  * checkpoint a no-op rather than a duplicate-candidate source. The
  * rows and the raised hwm publish in one commit, so a crash between
  * them cannot exist — both layers are spec-driven. The quantizer stays FIXED across appends
  * (spec-proven ≡ KMeans.transform); drift shows up in ivf_cell_stats
  * and triggers an offline retrain, never an in-stream one.
  */
object EmbeddingStream {

  /** Drain all staged embedding files ([[drainFiles]]) into the
    * persisted index at `indexPath` (a
    * [[graft.ops.Similarity.writeIvfVersioned]] store).
    *
    * `monotoneIds = true` is the pipeline contract (the upstream embed
    * stage assigns strictly increasing vec_ids), and what keeps the
    * redelivery guard O(batch) — pass false for an out-of-order id
    * space to fall back to the exact stored-id anti-join (cost ∝
    * corpus per batch). The contract must hold at FILE granularity:
    * the file source replays a backlog oldest-modification-time-first,
    * so every id in a later-landed file must exceed every id in an
    * earlier one (true for an id-assigning producer writing files in
    * sequence; NOT true for a round-robin re-staging of an existing
    * table — the guard would then filter the out-of-order remainder as
    * redelivered). Interleaved landings ⇒ use `monotoneIds = false`.
    *
    * `autoCompactFilesPerCell > 0` arms the fragmentation trigger: an
    * append leaves up to one new file per affected cell, so a
    * long-running ingest ratchets the store's file count (1 056 →
    * 10 794 files over a 20-batch sf100 ingest) and serving latency
    * silently degrades into file-open overhead. When the latest
    * manifest lists more than `threshold × nCells` files, the batch is
    * followed by [[graft.sources.SnapshotTable.compact]]`(path, 1)` and
    * a vacuum keeping two versions: a reader pinned to any version
    * since the previous compaction keeps its files (appends carry every
    * entry forward, so the pre-compaction version references them all)
    * until the next compaction. 8 ≈ where the measured ~0.3 ms/open
    * overhead reaches scan parity. 0 disables (default): compaction
    * cost sits on the ingest lane, so it is the operator's explicit
    * choice here or via Maintain.
    */
  def ingestOnce(spark: SparkSession, srcDir: String, indexPath: String,
                 checkpointDir: String, maxFilesPerTrigger: Int = 0,
                 monotoneIds: Boolean = true,
                 autoCompactFilesPerCell: Int = 0,
                 timingSink: (Long, String, Double) => Unit = (_, _, _) => ()): Unit = {
    // the trigger denominator: cells are fixed model metadata (the
    // quantizer never refits in-stream), so count them once per drain
    lazy val nCells = Similarity.loadIvfVersioned(spark, indexPath).nCells
    drainFiles(spark, srcDir, checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      def staged[T](stage: String)(body: => T): T = timedStage(timingSink, batchId, stage)(body)
      staged("append") {
        Similarity.appendToIvfPartitioned(indexPath, batch, monotoneIds)
      }
      if (autoCompactFilesPerCell > 0 &&
          SnapshotTable.manifest(spark, indexPath).collect().length >
            autoCompactFilesPerCell * nCells)
        staged("auto_compact") {
          SnapshotTable.compact(spark, indexPath, 1)
          SnapshotTable.vacuum(spark, indexPath, keepVersions = 2)
        }
      ()
    }
  }

  /** Continuous ANN query serving — the other face of the persisted
    * index: QUERY vectors land as files, each micro-batch probes the
    * stored cell-partitioned index ([[graft.ops.Similarity.queryIvf]] —
    * centroids broadcast, only probed `cell=` partitions read) and the
    * top-k neighbor rows append to `destPath`. The index is reloaded
    * ONLY when the store's latest version moves
    * ([[graft.sources.SnapshotTable.latestVersion]] — every
    * [[ingestOnce]] append and compaction publishes one): an
    * unchanged-version batch reuses the held reader, so steady-state
    * serving pays one `_manifests` listing per micro-batch instead of
    * reloading the (at scale, million-file) index — the 100× form of
    * the ingest-while-serving loop, with the store the only coupling.
    * Appends are visible at the NEXT micro-batch after their publish. A
    * query's result depends on nothing but itself and the index
    * snapshot, so batching never changes any row (spec: drained
    * stream ≡ batch query set when the index is quiescent). Each
    * batch's results are one [[graft.sources.SnapshotTable.commitBatch]]
    * append to the table at `destPath`, so a batch replayed after a
    * crash between the commit and the checkpoint's commit log publishes
    * nothing and runs no probe.
    *
    * Returns the number of index (re)loads performed — the version-poll
    * spec's observable (1 for a fully quiescent drain).
    */
  def queryOnce(spark: SparkSession, srcDir: String, indexPath: String,
                destPath: String, checkpointDir: String, k: Int = 5,
                nProbe: Int = 4, maxFilesPerTrigger: Int = 0,
                timingSink: (Long, String, Double) => Unit = (_, _, _) => (),
                servedPairBound: Long = 1000000L): Int = {
    // foreachBatch runs on the driver, sequentially per batch — plain
    // vars are safe and live for this query run only
    var servedVersion = Long.MinValue
    var served: Similarity.IvfIndex = null
    var loads = 0
    drainFiles(spark, srcDir, checkpointDir, maxFilesPerTrigger) { (batch, batchId) =>
      // per-stage attribution, so a serving-latency slope has an owner
      def staged[T](stage: String)(body: => T): T = timedStage(timingSink, batchId, stage)(body)
      val version = staged("stamp_poll")(SnapshotTable.latestVersion(spark, indexPath))
      if (served == null || version != servedVersion) {
        staged("index_load") {
          served = Similarity.loadIvfVersioned(spark, indexPath, version)
        }
        servedVersion = version
        loads += 1
      }
      val index = served
      val queries = Similarity.prepared(batch)
        .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("v").as("qv"),
          org.apache.spark.sql.functions.col("norm2").as("qn2"))
      // queryIvfServed, not queryIvf: a serving micro-batch is small
      // by contract, and the served form's static cell predicate is
      // what bounds per-batch index I/O at the probed union — the
      // equi-join form re-scanned the ENTIRE index every micro-batch
      // (the r14 16× serving slope, measured via scan metrics in r15).
      // A BACKFILL driven through this path can deliver huge batches
      // (maxFilesPerTrigger=0 drains everything at once): above the
      // bound the probed union covers ~every cell (pruning cannot
      // help a scan that needs all of them) and the served form pays
      // its probe kernel twice, so fall back to the single-pass
      // equi-join form. The count is one cheap batch-source job; at
      // serving sizes it is noise next to the probed scan (measured:
      // sf1 batch p50 878 ms with it vs 891 before it existed).
      staged("probe_score_write") {
        SnapshotTable.commitBatch(spark, destPath, batchId) { txn =>
          val nQ = batch.count()
          // `scored`, not `served`: the outer `var served` two scopes
          // up is the cached IvfIndex — shadowing it here invites an
          // edit that silently grabs the DataFrame instead.
          // servedPairBound is a parameter so the fallback-equivalence
          // spec can force each side of the boundary on one batch size
          val scored =
            if (nQ * nProbe <= servedPairBound) Similarity.queryIvfServed(index, queries, k, nProbe)
            else Similarity.queryIvf(index, queries, k, nProbe)
          SnapshotTable.append(spark, destPath, scored, txn)
        }
      }
      FaultInjection.maybeHalt(batchId)
    }
    loads
  }
}
