package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One `events` row, as the generator makes it and the models check it. */
final case class Ev(eventId: Long, tsMicros: Long, userId: Long, eventType: String,
                    value: Double, props: String) {
  def ts: LocalDateTime = Gen.toLdt(tsMicros)
  def valid: Boolean = value >= 0.0 && value <= 300.0 && Gen.ValidTypes.contains(eventType)
}

final case class Doc(docId: Long, text: String, lang: String, source: String)

/** Seeded inputs, shaped like the sf0.1 tables the program is gated on:
  * `events` (100,000 rows, 1,500 stations, 30 days, five event types of
  * which `error` is invalid), `documents` (5,000 docs over a 31-token
  * vocabulary with planted exact and near duplicates) and `embeddings`
  * (clustered float vectors). The same seed always gives the same rows.
  */
object Gen {
  val Types: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val ValidTypes: Set[String] = Set("click", "view", "purchase", "signup")
  val Stations = 1500
  val Days = 30
  val BaseMicros: Long = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
  val DayMicros: Long = 86400L * 1000000L

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def toLdt(micros: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, ZoneOffset.UTC)

  /** Time-ordered events with unique timestamps. */
  def events(seed: Long, n: Int = 100000): Vector[Ev] = {
    val r = rng(seed, 1)
    val step = Days * DayMicros / n
    Vector.tabulate(n) { i =>
      Ev(i.toLong, BaseMicros + i * step + r.nextLong(step), r.nextInt(Stations).toLong,
        Types(r.nextInt(Types.size)), r.nextInt(30000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def eventsFrame(spark: SparkSession, evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(evs.map(e =>
        Row(e.eventId, e.ts, e.userId, e.eventType, e.value, e.props)): _*),
      EventSchema)

  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window", "dup")
  private val Langs = Vector("en", "en", "en", "en", "es", "zh", "de", "fr", "es", "zh", "de", "fr")

  /** Documents: random texts of 10–100 tokens, with fixed shares of
    * planted documents at seeded positions, so every seed gives the same
    * cluster structure: 250 low-quality one-token repeats (three equal
    * groups of identical shingle sets), 100 exact duplicates (case or
    * spacing variants) and 300 near duplicates (one token replaced in a
    * ≥ 60-token source, Jaccard ≥ 0.9) of earlier random documents.
    */
  def documents(seed: Long, n: Int = 5000): Vector[Doc] = {
    val r = rng(seed, 2)
    val (lowQ, exact, near) = (250, 100, 300)
    val planted = new java.util.ArrayList[Integer]((50 until n).map(Integer.valueOf).asJava)
    java.util.Collections.shuffle(planted, new java.util.Random(r.nextLong()))
    val kind = new Array[Int](n) // 0 random, 1 low quality, 2 exact duplicate, 3 near duplicate
    (0 until lowQ + exact + near).foreach { k =>
      kind(planted.get(k)) = if (k < lowQ) 1 else if (k < lowQ + exact) 2 else 3
    }
    val texts = new Array[String](n)
    val originals, longOriginals = scala.collection.mutable.ArrayBuffer.empty[Int]
    var lowQSeen = 0
    for (i <- 0 until n) {
      texts(i) = kind(i) match {
        case 1 =>
          lowQSeen += 1
          Vector.fill(10 + r.nextInt(40))(Vocab(1 + lowQSeen % 3)).mkString(" ")
        case 2 =>
          val src = texts(originals(r.nextInt(originals.size)))
          if (r.nextBoolean()) src.toUpperCase else "  " + src.replace(" ", "  ") + " "
        case 3 =>
          val toks = texts(longOriginals(r.nextInt(longOriginals.size))).split(" ")
          val at = r.nextInt(toks.length)
          toks(at) = Vocab((Vocab.indexOf(toks(at)) + 1 + r.nextInt(Vocab.size - 1)) % Vocab.size)
          toks.mkString(" ")
        case _ =>
          val len = 10 + r.nextInt(91)
          originals += i
          if (len >= 60) longOriginals += i
          Vector.fill(len)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      }
    }
    Vector.tabulate(n)(i => Doc(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${i % 20}"))
  }

  def documentsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map(d =>
        Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)): _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

  /** Clustered vectors: `clusters` Gaussian centres, members at noise 0.35. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int = 10): Vector[Array[Float]] = {
    val r = rng(seed, 3)
    def gauss(): Double = {
      var x = 0.0
      for (_ <- 0 until 12) x += r.nextDouble()
      x - 6.0
    }
    val centres = Vector.fill(clusters)(Array.fill(dim)(gauss()))
    Vector.fill(n) {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + 0.35 * gauss()).toFloat)
    }
  }

  def embeddingsFrame(spark: SparkSession, vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.toSeq, i % 10) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))))

  /** Query vectors: seeded perturbations of corpus vectors. */
  def queries(r: SplittableRandom, corpus: Vector[Array[Float]], n: Int): Vector[Array[Double]] =
    Vector.fill(n) {
      val base = corpus(r.nextInt(corpus.size))
      base.map(x => x + 0.2 * (r.nextDouble() - 0.5))
    }

  /** Zipf(s) sampler over ranks 0..n-1 (inverse CDF over a table). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** FNV-1a over strings: the fingerprint of an operation sequence. */
  def fingerprint(xs: Iterator[String]): String = {
    var h = 0xcbf29ce484222325L
    xs.foreach { s =>
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xff); h *= 0x100000001b3L }
      h ^= 0x1f; h *= 0x100000001b3L
    }
    f"$h%016x"
  }
}
