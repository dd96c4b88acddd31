package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What set-up hands to a workload: the session, its directory, the trace. */
final case class Ctx(spark: SparkSession, dir: String, trace: Trace)

/** Operations of one kind: staged once, then run one after the other,
  * checked after the timed phase.
  */
trait Part {
  /** Stage the inputs and build the layouts the operations read. */
  def stage(ctx: Ctx): Unit
  /** Run operation `i` of the timed phase; returns its latency in ns. */
  def op(i: Int): Long
  /** Answer checks, run after the timed phase: the list of failures. */
  def verify(): Seq[String]
  /** Feed each check one perturbed answer: the checks that wrongly accepted it. */
  def selfTest(): Seq[String]
  /** One string per timed operation, in order, for the run's fingerprint. */
  def opKeys: Iterator[String]
  /** Per-layer metrics these operations measure (traced runs). */
  def layers(trace: Trace): Map[String, Double]
}

/** One benchmark workload. A run stages it, warms it up, then calls
  * [[op]] in a closed loop, one operation after the other, in whole
  * rounds of [[roundSize]].
  */
trait Workload extends Part {
  def name: String
  def roundSize: Int
  /** Work items one operation completes. */
  def itemsPerOp: Long
  /** The untimed warm-up operations. */
  def warmup(): Unit
  /** Latencies (ms) of the timed operations, per kind of operation, when a
    * round mixes several kinds.
    */
  def latencyByPart: Seq[(String, Seq[Double])] = Nil
}
