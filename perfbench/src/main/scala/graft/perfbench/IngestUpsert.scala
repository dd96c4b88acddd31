package graft.perfbench

import graft.ops.Ingest
import graft.sources.{ResultCache, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The reference's consumer with writes beside reads, a part of `online`.
  * Time-ordered micro-batches of `events` (about 20% redelivered
  * duplicates, about 20% invalid `error` rows) are split by
  * `Ingest.validate`/`Ingest.dlq`; valid rows MERGE keep-last on
  * (user_id, ts) into a `dt`-partitioned `SnapshotTable`, rejected rows
  * append to a DLQ table. Commits invalidate the dashboard cache keys, and
  * dashboard reads over `SnapshotTable.read` follow every commit.
  * Maintenance (compact, vacuum) runs every [[IngestUpsert.MaintainEvery]]
  * commits.
  */
object IngestUpsert {
  val InitialRows = 20000
  val FreshPerBatch = 800
  val RedeliveredPerBatch = 200
  val MaintainEvery = 2
  val Keys = Seq("user_id", "ts")
  /** Raw field bytes of a row: the denominator of write amplification. */
  def rawBytes(e: Ev): Long = 8 + 8 + 8 + e.eventType.length + 8 + e.props.length
}

final class IngestUpsert(seed: Long, evs: Vector[Ev]) extends Part {
  import IngestUpsert._
  /** Delivered batches, made on demand from the seed: fresh rows in time
    * order plus redeliveries of recent rows under a new arrival id, half
    * of them with a corrected value.
    */
  private val batches: IndexedSeq[Vector[Ev]] = {
    val r = Gen.rng(seed, 30)
    var nextId = evs.size.toLong
    (InitialRows until evs.size by FreshPerBatch).map { from =>
      val fresh = evs.slice(from, from + FreshPerBatch)
      val again = Vector.fill(RedeliveredPerBatch) {
        val e = evs(from + fresh.size - 1 - r.nextInt(2000))
        nextId += 1
        e.copy(eventId = nextId, value = if (r.nextBoolean()) e.value else r.nextInt(30000) / 100.0)
      }
      fresh ++ again
    }
  }

  private var ctx: Ctx = _
  private var table, dlqTable, cacheRoot: String = _
  private var next = 0
  private val dailyKey = ResultCache.keyOf("daily")
  private def stationKey(s: Long) = ResultCache.keyOf("station", Seq(s"station=$s"))
  private val dashStations: Seq[Long] = evs.take(5).map(_.userId)
  /** keep-last model: (user_id, ts) → winning row, of everything delivered */
  private val model = scala.collection.mutable.HashMap.empty[(Long, Long), Ev]
  private val branches = ArrayBuffer.empty[Int]
  private val timedBatches = ArrayBuffer.empty[Int]
  private val readChecks = ArrayBuffer.empty[String]
  private var validBytes = 0L
  /** Traced runs: rows in the table after the last commit, and per timed
    * batch the rows delivered, the rows `Ingest.validate` returned and the
    * rows the keep-last MERGE collapsed into existing keys.
    */
  private var tableRows = 0L
  private var delivered, validated, collapsed = 0L

  private def deliver(b: Seq[Ev]): Unit = b.filter(_.valid).foreach { e =>
    val k = (e.userId, e.tsMicros)
    if (model.get(k).forall(_.eventId < e.eventId)) model(k) = e
  }

  private def withDt(df: DataFrame) = df.withColumn("dt", to_date(col("ts")))

  def stage(c: Ctx): Unit = {
    ctx = c
    table = s"${c.dir}/table"; dlqTable = s"${c.dir}/dlq"; cacheRoot = s"${c.dir}/dash-cache"
    model.clear(); next = 0
    val initial = evs.take(InitialRows)
    val df = Gen.eventsFrame(c.spark, initial)
    SnapshotTable.upsertOrCreate(c.spark, table, withDt(Ingest.validate(df)), Keys, "event_id", Seq("dt"))
    SnapshotTable.create(c.spark, dlqTable, Ingest.dlq(df))
    deliver(initial)
    ResultCache.invalidateOnCommit(c.spark, table, cacheRoot, dailyKey +: dashStations.map(stationKey))
    if (c.trace.enabled) tableRows = SnapshotTable.read(c.spark, table).count()
  }

  def warmup(n: Int): Unit = {
    (0 until n).foreach(_ => runBatch(-1))
    timedBatches.clear(); readChecks.clear(); branches.clear(); validBytes = 0L
    delivered = 0L; validated = 0L; collapsed = 0L
  }

  private def dailyRead(): DataFrame =
    SnapshotTable.read(ctx.spark, table).groupBy(col("dt"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("cents"))
      .orderBy(col("dt"))

  private def expectedDaily: Seq[Seq[Any]] =
    model.values.groupBy(e => e.ts.toLocalDate.toString).toSeq.sortBy(_._1).map { case (d, xs) =>
      Seq(d, xs.size.toLong, xs.iterator.map(e => math.round(e.value * 100)).sum)
    }

  private def stationRows(s: Long): Seq[Seq[Any]] =
    model.values.filter(_.userId == s).toSeq.sortBy(_.tsMicros)
      .map(e => Seq(e.eventId, e.ts, e.userId, e.eventType, e.value, e.props, e.ts.toLocalDate.toString))

  /** One micro-batch; returns the latency from hand-over until the first
    * read that sees the commit returns.
    */
  private def runBatch(req: Long): Long = {
    val t = ctx.trace
    val spark = ctx.spark
    val b = next; next += 1
    require(b < batches.size, "input stream exhausted")
    val rows = batches(b)
    val t0 = System.nanoTime()
    val df = Gen.eventsFrame(spark, rows)
    val (valid, dlq) = t.span("ingest.split") { (withDt(Ingest.validate(df)), Ingest.dlq(df)) }
    t.span("snapshot.commit") { SnapshotTable.upsertOrCreate(spark, table, valid, Keys, "event_id", Seq("dt")) }
    t.span("snapshot.dlq_append") { SnapshotTable.append(spark, dlqTable, dlq) }
    deliver(rows)
    val daily = t.span("snapshot.read") {
      ResultCache.getOrCompute(spark, cacheRoot, dailyKey, Station.TtlMs)(dailyRead())
        .collect().toSeq.map(Check.rowOf)
    }
    val ns = System.nanoTime() - t0
    if (t.enabled) {
      t.span("snapshot.manifest") {
        val live = SnapshotTable.manifest(spark, table).select("path").collect().map(_.getString(0))
        branches += live.map(_.split("/").take(2).mkString("/")).distinct.length
      }
      val nValid = valid.count()
      val now = SnapshotTable.read(spark, table).count()
      if (req >= 0) {
        delivered += rows.size; validated += nValid; collapsed += nValid - (now - tableRows)
      }
      tableRows = now
    }
    // a dashboard refresh served from the cache, then a station panel
    val again = ResultCache.getOrCompute(spark, cacheRoot, dailyKey, Station.TtlMs)(dailyRead())
      .collect().toSeq.map(Check.rowOf)
    val s = dashStations(b % dashStations.size)
    val panel = ResultCache.getOrCompute(spark, cacheRoot, stationKey(s), Station.TtlMs) {
      SnapshotTable.read(spark, table).filter(col("user_id") === s).orderBy(col("ts"))
    }.collect().toSeq.map(Check.rowOf)
    if (req >= 0) {
      val exp = expectedDaily
      readChecks ++= Check.rows(s"batch $b first read", daily, exp)
      readChecks ++= Check.rows(s"batch $b cached read", again, exp)
      readChecks ++= Check.rows(s"batch $b station $s panel", panel, stationRows(s))
      timedBatches += b
      validBytes += rows.filter(_.valid).map(rawBytes).sum
    }
    if (next % MaintainEvery == 0) {
      t.span("snapshot.compact") {
        SnapshotTable.compact(spark, table); SnapshotTable.compact(spark, dlqTable)
      }
      t.span("snapshot.vacuum") {
        SnapshotTable.vacuum(spark, table, 2); SnapshotTable.vacuum(spark, dlqTable, 2)
      }
    }
    ns
  }

  def op(i: Int): Long = {
    ctx.trace.req = i
    runBatch(i)
  }

  def opKeys: Iterator[String] = timedBatches.iterator.map(b => s"batch-$b-${batches(b).hashCode}")

  /** Split property of one batch: valid + DLQ rows = delivered rows, and
    * every rejected row is an `error` row tagged `bad_event_type`.
    */
  private def splitCheck(b: Int, nValid: Long, reasons: Map[String, Long]): Seq[String] = {
    val rows = batches(b)
    val nDlq = reasons.values.sum
    val nError = rows.count(_.eventType == "error").toLong
    Seq(
      Option.when(nValid + nDlq != rows.size)(s"batch $b: $nValid valid + $nDlq DLQ rows != ${rows.size} delivered"),
      Option.when(reasons != (if (nError == 0) Map.empty else Map("bad_event_type" -> nError)))(
        s"batch $b: DLQ reasons $reasons, expected $nError bad_event_type"),
    ).flatten
  }

  def verify(): Seq[String] = {
    val spark = ctx.spark
    val split = timedBatches.flatMap { b =>
      val df = Gen.eventsFrame(spark, batches(b))
      splitCheck(b, Ingest.validate(df).count(),
        Ingest.dlq(df).groupBy("reason").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val finalRows = SnapshotTable.read(spark, table).orderBy("user_id", "ts").collect().toSeq.map(Check.rowOf)
    val expFinal = model.values.toSeq.sortBy(e => (e.userId, e.tsMicros))
      .map(e => Seq(e.eventId, e.ts, e.userId, e.eventType, e.value, e.props, e.ts.toLocalDate.toString))
    split.toSeq ++ readChecks ++ Check.rows("final table", finalRows, expFinal)
  }

  def selfTest(): Seq[String] = {
    val daily = expectedDaily
    val panel = stationRows(dashStations.head)
    val b = timedBatches.headOption.getOrElse(0)
    val nError = batches(b).count(_.eventType == "error").toLong
    Seq(
      Option.when(Check.rows("perturbed daily", Check.perturb(daily), daily).isEmpty)("read-after-write check"),
      Option.when(Check.rows("perturbed table", panel.drop(1), panel).isEmpty)("final-table check"),
      // a split that lost one valid row must not balance
      Option.when(splitCheck(b, batches(b).size - nError - 1, Map("bad_event_type" -> nError)).isEmpty)(
        "split check"),
    ).flatten
  }

  def layers(t: Trace): Map[String, Double] = {
    val timed: Long => Boolean = _ >= 0
    val written = t.spans.filter(s => (s.name == "snapshot.commit" || s.name == "snapshot.compact") && timed(s.req))
      .map(_.counters.getOrElse("written_b", 0L)).sum
    val live = SnapshotTable.manifest(ctx.spark, table).select("path").collect().map(_.getString(0))
    val liveBytes = live.map(p => java.nio.file.Files.size(java.nio.file.Paths.get(s"$table/$p"))).sum
    Map(
      "ingest.split_ms" -> Stats.medianOr0(t.durationsMs("ingest.split", timed)),
      "ingest.valid_ratio" -> (if (delivered == 0) 0.0 else validated.toDouble / delivered),
      "ingest.dup_ratio" -> (if (validated == 0) 0.0 else collapsed.toDouble / validated),
      "snapshot.commit_ms" -> Stats.medianOr0(t.durationsMs("snapshot.commit", timed)),
      "snapshot.dlq_append_ms" -> Stats.medianOr0(t.durationsMs("snapshot.dlq_append", timed)),
      "snapshot.read_ms" -> Stats.medianOr0(t.durationsMs("snapshot.read", timed)),
      "snapshot.branches_per_read" -> (if (branches.isEmpty) 0.0 else branches.sum.toDouble / branches.size),
      "snapshot.files_live" -> live.length.toDouble,
      "snapshot.compact_ms" -> Stats.medianOr0(t.durationsMs("snapshot.compact", timed)),
      "snapshot.vacuum_ms" -> Stats.medianOr0(t.durationsMs("snapshot.vacuum", timed)),
      "snapshot.write_amp" -> (if (validBytes == 0) 0.0 else written.toDouble / validBytes),
      "snapshot.space_amp" -> Files.bytesUnder(table).toDouble / liveBytes,
    )
  }
}
