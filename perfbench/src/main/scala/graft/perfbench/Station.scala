package graft.perfbench

import graft.Tables
import graft.ops.StationQueries
import graft.sources.{ResultCache, Sources}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One query-service request: an endpoint shape and its parameters. */
final case class Req(endpoint: String, station: Long, day: Int, days: Int, interval: String) {
  def start: String = f"2024-01-${day + 1}%02d 00:00:00"
  def end: String = f"2024-01-${day + days}%02d 23:59:59"
  def startMicros: Long = Gen.BaseMicros + day * Gen.DayMicros
  def endMicros: Long = Gen.BaseMicros + (day + days) * Gen.DayMicros - 1000000L
  def intervalMicros: Long = interval match {
    case "30 minutes" => 1800L * 1000000L
    case "1 hour" => 3600L * 1000000L
    case "2 hours" => 7200L * 1000000L
  }
  /** The cache key's parameters: only those the endpoint takes. */
  def params: Seq[String] = endpoint match {
    case "rawStationAll" => Seq(s"station=$station")
    case "latestPerKey" => Seq(s"start=$start", s"end=$end")
    case "rawStation" | "aggStation" => Seq(s"station=$station", s"start=$start", s"end=$end")
    case _ => Seq(s"station=$station", s"start=$start", s"end=$end", s"interval=$interval")
  }
  def key: String = (endpoint +: params).mkString("|")
}

object Station {
  val Endpoints: Seq[String] =
    Seq("rawStation", "rawStationAll", "aggStation", "timeseriesStation", "gapfillLocf", "latestPerKey")
  /** Six new requests and two refreshes. */
  val RoundSize = 8
  val TtlMs = 300000L
  /** Logical time between two requests: the 300-s TTL spans 100 requests. */
  val StepMs = 3000L

  /** Seeded request stream in rounds of eight: six new requests, one per
    * endpoint shape (rawStation, rawStationAll, aggStation,
    * timeseriesStation, gapfillLocf, latestPerKey), with Zipf(1.1)-skewed
    * stations over four two-day dashboard windows and two bucket intervals; then two
    * dashboard refreshes that repeat one of the last 50 requests, well
    * within the TTL.
    */
  def requests(seed: Long, stream: Long): Iterator[Req] = {
    val r = Gen.rng(seed, stream)
    val setup = Gen.rng(seed, 20)
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(setup.nextLong()))
      .shuffle((0 until Gen.Stations).toVector)
    val windows = Vector.fill(4)((setup.nextInt(Gen.Days - 1), 2))
    val zipf = new Gen.Zipf(Gen.Stations, 1.1)
    val history = ArrayBuffer.empty[Req]
    Iterator.from(0).map { i =>
      val pos = i % RoundSize
      val q =
        if (pos >= Endpoints.size) history(history.size - 1 - r.nextInt(math.min(50, history.size)))
        else {
          val (day, days) = windows(r.nextInt(windows.size))
          Req(Endpoints(pos), perm(zipf.sample(r)).toLong, day, days, if (r.nextBoolean()) "1 hour" else "2 hours")
        }
      history += q
      q
    }
  }
}

/** The reference's query service, a part of `online`. Reads go through
  * `Tables.events` on a `dt`-partitioned copy (pruned with
  * `StationQueries.dtBounded`), behind `ResultCache.getOrCompute` with a
  * 300-s TTL on a logical clock the benchmark owns.
  */
final class StationServe(seed: Long, evs: Vector[Ev]) extends Part {
  private val byStation: Map[Long, Vector[Ev]] = evs.groupBy(_.userId).map { case (k, v) => k -> v.sortBy(_.tsMicros) }
  private var ctx: Ctx = _
  private var partDir: String = _
  private var cacheRoot: String = _
  private var clockMs = 0L
  private val timed = Station.requests(seed, 10)
  private val done = ArrayBuffer.empty[(Req, Seq[Seq[Any]], Boolean, Long)]

  def stage(c: Ctx): Unit = {
    ctx = c
    partDir = s"${c.dir}/part"
    Sources.writePartitioned(Gen.eventsFrame(c.spark, evs).withColumn("dt", to_date(col("ts"))),
      s"$partDir/events.parquet", Seq("dt"))
  }

  def warmup(requests: Int): Unit = {
    cacheRoot = s"${ctx.dir}/cache-warm"
    val warm = Station.requests(seed, 11)
    (0 until requests).foreach(_ => serve(warm.next(), -1))
    cacheRoot = s"${ctx.dir}/cache"
    clockMs = 0L
    done.clear()
  }

  private def build(ev: DataFrame, q: Req): DataFrame = q.endpoint match {
    case "rawStationAll" => StationQueries.rawStationAll(ev, q.station)
    case "rawStation" => StationQueries.rawStation(StationQueries.dtBounded(ev, q.start, q.end), q.station, q.start, q.end)
    case "aggStation" => StationQueries.aggStation(StationQueries.dtBounded(ev, q.start, q.end), q.station, q.start, q.end)
    case "timeseriesStation" => StationQueries.timeseriesStation(
      StationQueries.dtBounded(ev, q.start, q.end), q.station, q.start, q.end, q.interval)
    case "gapfillLocf" => StationQueries.gapfillLocf(
      StationQueries.dtBounded(ev, q.start, q.end), q.station, q.start, q.end, q.interval)
    case "latestPerKey" => StationQueries.latestPerKey(StationQueries.dtBounded(ev, q.start, q.end))
  }

  /** One request; returns (rows, served from cache). */
  private def serve(q: Req, req: Long): (Seq[Seq[Any]], Boolean) = {
    val t = ctx.trace
    t.req = req
    var miss = false
    val rows = t.span("request") {
      val ev = t.span("tables.load") { Tables.events(ctx.spark, partDir) }
      val df = t.span("result_cache.get") {
        ResultCache.getOrCompute(ctx.spark, cacheRoot, ResultCache.keyOf(q.endpoint, q.params),
          Station.TtlMs, () => clockMs) {
          miss = true
          t.span("station_queries.build") { build(ev, q) }
        }
      }
      t.span("result.collect") { df.collect().toSeq.map(Check.rowOf) }
    }
    clockMs += Station.StepMs
    (rows, !miss)
  }

  def op(i: Int): Long = {
    val q = timed.next()
    val t0 = System.nanoTime()
    val (rows, hit) = serve(q, i)
    val ns = System.nanoTime() - t0
    done += ((q, rows, hit, i.toLong))
    ns
  }

  def opKeys: Iterator[String] = done.iterator.map(_._1.key)

  // ── plain-Scala model of every endpoint over the in-memory events ──

  private def inRange(q: Req)(e: Ev) = e.tsMicros >= q.startMicros && e.tsMicros <= q.endMicros
  private def dtOf(e: Ev) = e.ts.toLocalDate.toString
  private def full(e: Ev): Seq[Any] = Seq(e.eventId, e.ts, e.userId, e.eventType, e.value, e.props, dtOf(e))
  private def bucketOf(micros: Long, iv: Long) = Math.floorDiv(micros, iv) * iv

  def expected(q: Req): Seq[Seq[Any]] = {
    val mine = byStation.getOrElse(q.station, Vector.empty)
    q.endpoint match {
      case "rawStationAll" => mine.reverse.map(full)
      case "rawStation" => mine.filter(inRange(q)).reverse.map(full)
      case "aggStation" =>
        val xs = mine.filter(inRange(q))
        if (xs.isEmpty) Nil
        else Seq(Seq(q.station, Check.avg4(xs.map(_.value)), xs.map(_.value).min, xs.map(_.value).max, xs.size.toLong))
      case "timeseriesStation" =>
        mine.filter(inRange(q)).groupBy(e => bucketOf(e.tsMicros, q.intervalMicros)).toSeq.sortBy(_._1).map {
          case (b, xs) => Seq(q.station, Gen.toLdt(b), Check.avg4(xs.map(_.value)),
            xs.map(_.value).min, xs.map(_.value).max, xs.size.toLong)
        }
      case "gapfillLocf" =>
        val groups = mine.filter(inRange(q)).groupBy(e => bucketOf(e.tsMicros, q.intervalMicros))
        var last: Any = null
        (q.startMicros to q.endMicros by q.intervalMicros).map { b =>
          val xs = groups.getOrElse(b, Vector.empty)
          val avg: Any = if (xs.isEmpty) null else Check.avg4(xs.map(_.value))
          if (avg != null) last = avg
          Seq(Gen.toLdt(b), xs.size.toLong, avg, last, xs.isEmpty)
        }
      case "latestPerKey" =>
        val lo = q.day; val hi = q.day + q.days - 1
        evs.filter { e => val d = Math.floorDiv(e.tsMicros - Gen.BaseMicros, Gen.DayMicros); d >= lo && d <= hi }
          .groupBy(_.userId).toSeq.sortBy(_._1)
          .map { case (_, xs) => full(xs.maxBy(e => (e.tsMicros, e.eventId))) }
    }
  }

  def verify(): Seq[String] =
    done.iterator.zipWithIndex.flatMap { case ((q, rows, hit, _), i) =>
      Check.rows(s"request $i ${q.key}${if (hit) " (cache hit)" else ""}", rows, expected(q))
    }.toSeq

  def selfTest(): Seq[String] = {
    val (q, rows, _, _) = done.find(_._2.nonEmpty).getOrElse(done.head)
    if (Check.rows("perturbed", Check.perturb(rows), expected(q)).isEmpty) Seq("station response check") else Nil
  }

  def layers(t: Trace): Map[String, Double] = {
    val hits = done.filter(_._3).map(_._4).toSet
    val misses = done.filterNot(_._3).map(_._4).toSet
    // a miss executes the endpoint's plan while the cache publishes its result
    val execByReq: Map[Long, Double] = {
      val gets = t.spans.filter(s => s.name == "result_cache.get" && misses(s.req))
      val builds = t.spans.filter(_.name == "station_queries.build").groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
      gets.map(s => s.req -> (s.endNs - s.startNs - builds.getOrElse(s.id, 0L)) / 1e6).toMap
    }
    val perEndpoint = Station.Endpoints.map { ep =>
      val ms = done.filter(d => d._1.endpoint == ep && !d._3).flatMap(d => execByReq.get(d._4))
      s"station_queries.exec_ms.$ep" -> Stats.medianOr0(ms.toSeq)
    }
    Map(
      "tables.load_ms" -> Stats.medianOr0(t.durationsMs("tables.load", r => r >= 0)),
      "station_queries.build_ms" -> Stats.medianOr0(t.durationsMs("station_queries.build", r => r >= 0)),
      "result_cache.hit_ratio" -> hits.size.toDouble / done.size,
      "result_cache.hit_ms" -> Stats.medianOr0(t.durationsMs("request", hits)),
      "result_cache.miss_ms" -> Stats.medianOr0(t.durationsMs("request", misses)),
      "result_cache.bytes" -> Files.bytesUnder(cacheRoot).toDouble,
    ) ++ perEndpoint
  }
}

object Files {
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
