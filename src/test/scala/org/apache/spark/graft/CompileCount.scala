package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Counts the classes Spark's codegen compiles while a block runs. The
  * counter is JVM-wide: it sees every compile, on the driver and on the
  * local-mode task threads alike, so a count is exact only while nothing
  * else runs in the JVM (the forked test JVM runs one suite at a time).
  * Every compile records one sample, and a codegen cache hit records
  * none.
  */
object CompileCount {
  def total: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def of[T](body: => T): (T, Long) = {
    val before = total
    val out = body
    (out, total - before)
  }
}
