package graft.perfbench

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** kNN retrieval, a part of `online`. Each request carries its own query vectors
  * (seeded perturbations of corpus vectors) and is served by
  * `Similarity.queryIvfServed` against an IVF layout built, published
  * (`writeIvfVersioned`) and loaded (`loadIvfVersioned`) once in set-up.
  * Every returned score must equal the exact cosine, rounded to four
  * places; recall@k is taken against exact brute force.
  */
object AnnServe {
  val Vectors = 2000
  val Dim = 64
  val Cells = 16
  val Probe = 4
  val K = 10
  val QueriesPerRequest = 4
}

final class AnnServe(seed: Long) extends Part {
  import AnnServe._

  private val corpus = Gen.vectors(seed, Vectors, Dim)
  private val corpusD: Array[Array[Double]] = corpus.map(_.map(_.toDouble)).toArray
  private val norms: Array[Double] = corpusD.map(v => v.map(x => x * x).sum)
  private var ctx: Ctx = _
  private var index: Similarity.IvfIndex = _
  private val timed = Gen.rng(seed, 40)
  private val done = ArrayBuffer.empty[(Vector[Array[Double]], Seq[Row])]

  def stage(c: Ctx): Unit = {
    ctx = c
    Gen.embeddingsFrame(c.spark, corpus).coalesce(1).write.parquet(s"${c.dir}/embeddings.parquet")
    val store = s"${c.dir}/ivf"
    c.trace.span("ann.index_build") {
      Similarity.writeIvfVersioned(Similarity.buildIvf(Tables.embeddings(c.spark, c.dir), Cells), store)
    }
    index = c.trace.span("ann.load") {
      val ix = Similarity.loadIvfVersioned(c.spark, store)
      require(ix.nCells == Cells, s"loaded ${ix.nCells} cells, built $Cells")
      ix
    }
  }

  def warmup(requests: Int): Unit = {
    val warm = Gen.rng(seed, 41)
    (0 until requests).foreach(_ => serve(Gen.queries(warm, corpus, QueriesPerRequest)))
    done.clear()
  }

  private val querySchema = StructType(Seq(StructField("query_id", LongType),
    StructField("qv", ArrayType(DoubleType, containsNull = false)), StructField("qn2", DoubleType)))

  private def serve(qs: Vector[Array[Double]]): Seq[Row] = {
    val spark = ctx.spark
    val df = spark.createDataFrame(java.util.Arrays.asList(qs.zipWithIndex.map { case (q, i) =>
      Row(i.toLong, q.toSeq, q.map(x => x * x).sum) }: _*), querySchema)
    ctx.trace.span("ann.query") {
      Similarity.queryIvfServed(index, df, K, Probe).collect().toSeq
    }
  }

  def op(i: Int): Long = {
    ctx.trace.req = i
    val qs = Gen.queries(timed, corpus, QueriesPerRequest)
    val t0 = System.nanoTime()
    val rows = serve(qs)
    val ns = System.nanoTime() - t0
    done += ((qs, rows))
    ns
  }

  def opKeys: Iterator[String] = done.iterator.map { case (qs, _) => qs.map(_.take(2).mkString(",")).mkString(";") }

  private def cosine(q: Array[Double], id: Int): Double = {
    var dot = 0.0
    var i = 0
    while (i < q.length) { dot += q(i) * corpusD(id)(i); i += 1 }
    dot / (math.sqrt(q.map(x => x * x).sum) * math.sqrt(norms(id)))
  }

  private def round4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Rows (query, neighbor, score, rank) whose score is not the exact cosine. */
  private def scoreErrors(qs: Vector[Array[Double]], rows: Seq[Row], what: String): Seq[String] = {
    val perQuery = rows.groupBy(_.getLong(0))
    val shape = perQuery.collect { case (q, rs) if rs.size != K => s"$what query $q: ${rs.size} neighbours" }
    shape.toSeq ++ rows.flatMap { r =>
      val q = r.getLong(0).toInt
      val id = r.getLong(1).toInt
      val got = r.getDouble(2)
      val exp = round4(cosine(qs(q), id))
      Option.when(math.abs(got - exp) > 1.0001e-4)(s"$what query $q neighbour $id: score $got, exact $exp")
    }
  }

  def verify(): Seq[String] =
    done.iterator.zipWithIndex.flatMap { case ((qs, rows), i) => scoreErrors(qs, rows, s"request $i") }.toSeq

  def selfTest(): Seq[String] = {
    val (qs, rows) = done.head
    val bad = rows.updated(0, Row(rows.head.getLong(0), rows.head.getLong(1), rows.head.getDouble(2) + 0.001, rows.head.get(3)))
    if (scoreErrors(qs, bad, "perturbed").isEmpty) Seq("ann score check") else Nil
  }

  /** Exact top-k by brute force, ties to the lower id as the program ranks. */
  private def exactTopK(q: Array[Double]): Set[Int] =
    corpusD.indices.map(id => (round4(cosine(q, id)), id))
      .sortBy { case (s, id) => (-s, id) }.take(K).map(_._2).toSet

  def layers(t: Trace): Map[String, Double] = {
    val timedReqs: Long => Boolean = _ >= 0
    val recall = done.flatMap { case (qs, rows) =>
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1).toInt).toSet }
      qs.indices.map(q => (got.getOrElse(q.toLong, Set.empty) intersect exactTopK(qs(q))).size.toDouble / K)
    }
    // the layout has one partition directory per cell: the partitions the
    // program's scans read within a request are the cells it scanned
    val cells = t.spans.filter(s => s.name == "ann.query" && timedReqs(s.req))
      .map(_.counters.getOrElse("partitions_read", 0L).toDouble / QueriesPerRequest)
    Map(
      "ann.index_build_s" -> Stats.medianOr0(t.durationsMs("ann.index_build")) / 1000.0,
      "ann.load_ms" -> Stats.medianOr0(t.durationsMs("ann.load")),
      "ann.query_ms" -> Stats.medianOr0(t.durationsMs("ann.query", timedReqs)),
      "ann.cells_scanned_per_query" -> Stats.medianOr0(cells.toSeq),
      "ann.recall_at_k" -> recall.sum / recall.size,
    )
  }
}
