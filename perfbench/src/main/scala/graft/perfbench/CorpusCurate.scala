package graft.perfbench

import graft.Tables
import graft.ops.{Corpus, Curation, TextAnalysis, TextDedup}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** `corpus_curate`: the LLM-data batch. Every operation is one
  * `Curation.curateClustered` job over the whole seeded corpus, and a round
  * is three jobs, so a run times at least three; the cold first job runs
  * in set-up. The kept ids are checked after the run
  * against the program's DuckDB oracle SQL for `corpus_curation_cc`,
  * evaluated outside the JVM (see `run.py`), and every repetition must
  * keep the same ids.
  */
final class CorpusCurate(seed: Long, out: java.nio.file.Path) extends Workload {
  val name = "corpus_curate"
  val roundSize = 3

  private val docs = Gen.documents(seed)
  val itemsPerOp: Long = docs.size.toLong
  private var ctx: Ctx = _
  private val kept = ArrayBuffer.empty[Seq[Long]]
  private val probes = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var nearDupPairs = 0L

  def stage(c: Ctx): Unit = {
    ctx = c
    Gen.documentsFrame(c.spark, docs).coalesce(1).write.parquet(s"${c.dir}/documents.parquet")
  }

  /** The cold first curation job. */
  def warmup(): Unit = {
    curate()
    kept.clear()
  }

  private def curate(): Seq[Long] = {
    val ids = ctx.trace.span("curation.curate_clustered") {
      Curation.curateClustered(Tables.documents(ctx.spark, ctx.dir)).collect().map(_.getLong(0)).toSeq.sorted
    }
    kept += ids
    ids
  }

  def op(i: Int): Long = {
    ctx.trace.req = i
    val t0 = System.nanoTime()
    curate()
    System.nanoTime() - t0
  }

  private val inputDigest = Gen.fingerprint(docs.iterator.map(_.text))
  def opKeys: Iterator[String] = kept.indices.iterator.map(i => s"curate-$i-$inputDigest")

  /** The expected answer comes from the DuckDB oracle, outside the JVM:
    * write the inputs it needs next to the kept ids.
    */
  def verify(): Seq[String] = {
    val first = kept.head
    val differing = kept.indices.filter(i => kept(i) != first)
    java.nio.file.Files.writeString(out.resolve("curate_kept.txt"), first.mkString("\n") + "\n")
    java.nio.file.Files.writeString(out.resolve("curate_oracle.sql"), graft.SparkEntry.oracleSql("corpus_curation_cc"))
    java.nio.file.Files.writeString(out.resolve("curate_docs.txt"), s"${ctx.dir}/documents.parquet\n")
    differing.map(i => s"curation job $i kept ${kept(i).size} ids, job 0 kept ${first.size}")
  }

  def selfTest(): Seq[String] = {
    val perturbed = kept :+ kept.head.drop(1)
    if (perturbed.forall(_ == perturbed.head)) Seq("repeat-consistency check") else Nil
  }

  /** Traced runs also time each stage's public entry point on its own
    * after the timed phase (twice each; medians).
    */
  def layers(t: Trace): Map[String, Double] = {
    val docsDf = Tables.documents(ctx.spark, ctx.dir)
    def probe(name: String)(body: => Long): Unit = (0 until 2).foreach { _ =>
      val t0 = System.nanoTime()
      val n = t.span(name)(body)
      probes.getOrElseUpdate(name, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      if (name == "text_dedup.minhash") nearDupPairs = n
    }
    probe("text_analysis.quality")(TextAnalysis.qualityFilter(docsDf).select("doc_id").collect().length.toLong)
    probe("text_dedup.exact")(TextDedup.exact(docsDf).filter(col("is_dup")).collect().length.toLong)
    probe("text_dedup.minhash")(TextDedup.minhashLshAuto(docsDf).collect().length.toLong)
    probe("corpus.cluster")(Corpus.nearDupClusters(docsDf).collect().length.toLong)
    Map(
      "text_analysis.quality_ms" -> Stats.median(probes("text_analysis.quality").toSeq),
      "text_dedup.exact_ms" -> Stats.median(probes("text_dedup.exact").toSeq),
      "text_dedup.minhash_ms" -> Stats.median(probes("text_dedup.minhash").toSeq),
      "text_dedup.near_dup_pairs" -> nearDupPairs.toDouble,
      "corpus.cluster_ms" -> Stats.median(probes("corpus.cluster").toSeq),
      "curation.kept_docs" -> kept.head.size.toDouble,
    )
  }
}
