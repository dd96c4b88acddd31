package graft

import graft.ops.{Curation, StationQueries}
import org.apache.spark.graft.CompileCount

/** Spark's generated classes live in one JVM-wide LRU cache whose size
  * `GraftSession.CodegenCacheEntries` sets. A serving session repeats the
  * same request shapes, so once the cache holds a round's working set a
  * repeated round must compile nothing.
  */
class CodegenReuseSpec extends SparkSpec {

  test("a repeated curation and station-query round compiles no class once warm") {
    val (user, start, end, interval) = (7L, "2024-01-05 00:00:00", "2024-01-08 23:59:59", "1 hour")
    // each call plans from scratch, as a serving request does; only the
    // generated code can be shared between rounds
    def round(): Seq[Int] = {
      val docs = Tables.documents(spark, sfDir)
      val ev = Tables.events(spark, sfDir)
      Seq(
        Curation.curateClustered(docs),
        StationQueries.rawStation(ev, user, start, end),
        StationQueries.rawStationAll(ev, user),
        StationQueries.aggStation(ev, user, start, end),
        StationQueries.timeseriesStation(ev, user, start, end, interval),
        StationQueries.gapfillLocf(ev, user, start, end, interval),
        StationQueries.latestPerKey(ev)
      ).map(_.collect().length)
    }
    // run alone, the cold round compiles more classes than Spark's
    // default cache keeps (154 against 100), so at the default every
    // round recompiles part of itself
    val (rows, cold) = CompileCount.of(round())
    val warm = (1 to 3).map { _ =>
      val (again, n) = CompileCount.of(round())
      assert(again === rows)
      n
    }
    // The first repeat compiles two classes the cold round did not:
    // both come from the eager jobs `curateClustered` runs while it
    // builds, not from any collect, and they showed up on every run, with
    // or without the Tables count catalog warmed first. From the second
    // repeat on nothing compiles.
    assert(warm.head <= 2 && warm.tail.forall(_ == 0),
      s"cold $cold, then repeat rounds compiled ${warm.mkString(", ")}")
  }
}
