package graft

package object streaming {

  /** Time `body` as `stage` of micro-batch `batchId` into a sink's
    * optional `timingSink(batchId, stage, ms)` — the per-batch stage
    * attribution StreamBench aggregates into p50/p99 per stage.
    */
  private[streaming] def timedStage[T](timingSink: (Long, String, Double) => Unit,
                                       batchId: Long, stage: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    timingSink(batchId, stage, (System.nanoTime() - t0) / 1e6)
    r
  }
}
