package graft.streaming

/** Test-only crash injection for stream sinks: when
  * GRAFT_CRASH_AFTER_BATCH is set to a batch id, the JVM `halt()`s (no
  * shutdown hooks — indistinguishable from a SIGKILLed or OOM-killed
  * driver) immediately after that micro-batch's foreachBatch body
  * finishes its writes — INSIDE the window where the sink's output is
  * durable but the streaming commit log has not yet recorded the
  * batch. On restart the engine replays exactly that batch; absorbing
  * the redelivery is the sink guard's job
  * ([[graft.sources.SnapshotTable.commitBatch]]). The sinks that call
  * it: [[CorpusStream.ingestOnce]], [[CorpusStream.spanRewriteOnce]],
  * [[CorpusStream.dsirScoreOnce]], [[EmbeddingStream.queryOnce]] and
  * [[EventStream.hllIngestOnce]]; graft.StreamCrashCheck drives the
  * corpus-ingest and HLL sinks through it. Unset (the default), the
  * cost is one long compare per micro-batch.
  */
object FaultInjection {
  val HaltExit = 7
  private val haltAfter: Long =
    sys.env.get("GRAFT_CRASH_AFTER_BATCH").map(_.toLong).getOrElse(-1L)
  def maybeHalt(batchId: Long): Unit =
    if (haltAfter >= 0 && batchId == haltAfter) Runtime.getRuntime.halt(HaltExit)
}
