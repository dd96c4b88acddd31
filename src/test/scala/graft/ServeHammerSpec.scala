package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.gates.GateHarness

/** Two-driver serving hammer: forks two independent driver JVMs
  * against ONE shared layout root, each serving the ivf, pq and dedup
  * families in a loop while publishing quantizer rebuilds into the
  * shared versioned store and running the age-based maintenance vacuum
  * on phase-offset cadences — cold-start publish races on every home
  * (the ANN stores' v1 and the dedup `layout`), concurrent version
  * publishes (losers see the documented retryable conflict), and
  * maintenance landing mid-serve of the peer. Both must exit green:
  * every serve either reads a whole layout or rebuilds (the documented
  * cost), never a mixed layout and never a thrown serve. (The
  * `vacuum(-1)` reset button is NOT run concurrently — it is documented
  * to yank files from under in-flight readers.)
  */
class ServeHammerSpec extends AnyFunSuite {

  test("two drivers build/serve/rebuild/vacuum one layout home without mixed layouts or failed serves") {
    val serveRoot = java.nio.file.Files.createTempDirectory("graft_hammer_serve")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def driver(phase: Int): Future[GateHarness.ForkResult] = Future {
      GateHarness.fork("graft.gates.ServeHammer",
        Seq("/root/testdata/sf0.001", "12", "4", phase.toString),
        heap = "3g", timeoutMinutes = 8,
        env = Map(
          "SPARK_GRAFT_CPUS" -> "4",
          "GRAFT_SERVE_ROOT" -> serveRoot.toString))
    }
    // phases 1 and 3: the vacuums interleave between the two processes
    // instead of synchronizing on the same iterations
    val results = Await.result(
      Future.sequence(Seq(driver(1), driver(3))), 10.minutes)
    results.zipWithIndex.foreach { case (r, i) =>
      if (r.timedOut) fail(s"hammer driver $i timed out\n${r.log.takeRight(3000)}")
      assert(r.exit === 0,
        s"hammer driver $i failed (mixed layout or serve failure):\n${r.log.takeRight(3000)}")
      assert(r.log.contains("\"ok\":true"), r.log.takeRight(500))
    }
  }
}
