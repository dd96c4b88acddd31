package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** `online`: the serving side of graft in one closed loop. Each round is
  * one keep-last micro-batch with its read-after-write reads
  * ([[IngestUpsert]]), eight query-service requests ([[StationServe]]:
  * six new, two refreshes) and one kNN request ([[AnnServe]]), in that
  * order. One operation is one batch or one request, and counts as one
  * work item. No source states the reference's request rate against its
  * ingest cadence, so this mix is a choice; each kind's latency is
  * reported on its own ([[latencyByPart]]).
  */
final class Online(seed: Long) extends Workload {
  val name = "online"
  val roundSize = Station.RoundSize + 2
  val itemsPerOp = 1L

  private val events = Gen.events(seed)
  private val ingest = new IngestUpsert(seed, events)
  private val station = new StationServe(seed, events)
  private val ann = new AnnServe(seed)
  private val parts = Seq(ingest, station, ann)
  private val kinds = Seq("ingest_batch", "station_request", "knn_request")
  private val lat = kinds.map(_ -> ArrayBuffer.empty[Double]).toMap

  def stage(ctx: Ctx): Unit = parts.foreach(_.stage(ctx))

  def warmup(): Unit = {
    ingest.warmup(1)
    station.warmup(2)
    ann.warmup(1)
  }

  def op(i: Int): Long = {
    val pos = i % roundSize
    val k = if (pos == 0) 0 else if (pos < roundSize - 1) 1 else 2
    val ns = parts(k).op(i)
    lat(kinds(k)) += ns / 1e6
    ns
  }

  override def latencyByPart: Seq[(String, Seq[Double])] = kinds.map(k => k -> lat(k).toSeq)

  def verify(): Seq[String] = parts.flatMap(_.verify())
  def selfTest(): Seq[String] = parts.flatMap(_.selfTest())
  def opKeys: Iterator[String] = parts.iterator.flatMap(_.opKeys)
  def layers(trace: Trace): Map[String, Double] =
    parts.map(_.layers(trace)).reduce(_ ++ _) ++
      kinds.map(k => s"client.${k}_ms" -> Stats.medianOr0(lat(k).toSeq))
}
