package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

package object streaming {

  /** Drain every parquet file staged under `srcDir` through `fn` once
    * per micro-batch, then stop: the source schema is read from the
    * staged files, `maxFilesPerTrigger > 0` bounds the files per batch,
    * and `Trigger.AvailableNow` processes the backlog and terminates.
    * Rerunning with the same `checkpointDir` is a no-op; a live
    * deployment swaps in a processing-time trigger on the same DAG and
    * checkpoint.
    */
  private[streaming] def drainFiles(spark: SparkSession, srcDir: String, checkpointDir: String,
                                    maxFilesPerTrigger: Int)
                                   (fn: (DataFrame, Long) => Unit): Unit = {
    val reader = spark.readStream.schema(spark.read.parquet(srcDir).schema)
    (if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else reader)
      .parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fn)
      .start()
      .awaitTermination()
  }

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
