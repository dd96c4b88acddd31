package graft.gates

/** Cross-PROCESS serving hammer: the deployment story is two
  * independent DRIVER JVMs building, serving, rebuilding and vacuuming
  * one set of serving homes concurrently. This main is one such driver:
  * it serves the ivf, pq and dedup families in a loop while, on a
  * phase-offset cadence, publishing quantizer REBUILDS into the shared
  * versioned store and running the age-based maintenance vacuum — so
  * each process's maintenance lands mid-serve of the other. Every
  * serve must return the seeded build's exact fingerprint: a mixed
  * layout (one version's centroids with another's cells), a half-built
  * reload, or any transient serve failure is an immediate non-zero
  * exit.
  *
  * What is hammered is the documented protocol: cold-start publish
  * races (both processes start on an empty root and race each home's
  * first `atomicPublishDir`: the ANN stores' v1 and the dedup
  * `layout`), version-publish conflicts (concurrent rebuilds — the
  * atomic publish detects the loser, who RETRIES, the documented
  * usage), and age-based vacuums against touch-protected live homes.
  * The `vacuum(-1)` reset button is deliberately NOT run concurrently
  * with serving: like ResultCache.clear it is documented to yank files
  * from under in-flight readers (ClusterCheck uses it only BEFORE
  * serving starts).
  *
  * ServeHammerSpec forks TWO of these against one GRAFT_SERVE_ROOT and
  * requires both to exit green.
  *
  * Usage: runMain graft.gates.ServeHammer <sfDir> <iters> <churnEvery> <phase>
  * Env: SPARK_GRAFT_CPUS, GRAFT_SERVE_ROOT (the shared layout root).
  */
object ServeHammer {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val churnEvery = args(2).toInt
    val phase = args(3).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.builderFor(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops.{AnnServing, DedupServing}
    import graft.sources.ServingLayouts

    // the two publish shapes of a serving home: versions of the ANN
    // stores under `<home>/table` (ivf, pq) and the dedup `<home>/layout`
    def serveIvf() = GateHarness.fingerprint(
      AnnServing.knnIvf(spark, sfDir, nQueries = 5, k = 3).collect())
    def servePq() = GateHarness.fingerprint(
      AnnServing.knnIvfPq(spark, sfDir, nQueries = 5, k = 3).collect())
    def serveDedup() = GateHarness.fingerprint(
      DedupServing.dedupIncremental(spark, sfDir).collect())

    // seeded builds → every correct serve, rebuilt or reloaded, in any
    // process, fingerprints identically (rebuilds refit the SAME
    // vectors with the same seed and cell count)
    val expectIvf = serveIvf()
    val expectPq = servePq()
    val expectDedup = serveDedup()
    var rebuilds = 0
    var conflicts = 0
    var i = 1
    while (i <= iters) {
      if (churnEvery > 0 && (i + phase) % churnEvery == 0) {
        // version churn mid-serve of the peer; publish conflicts are
        // the documented retryable outcome of concurrent rebuilds
        try { AnnServing.rebuildServedIvf(spark, sfDir); rebuilds += 1 }
        catch {
          case e: IllegalStateException if e.getMessage.contains("commit conflict") =>
            conflicts += 1
        }
        // the maintenance vacuum a deployment actually runs: age-based,
        // so touch-protected live homes survive; only genuinely idle
        // homes, unpublished builds and trash are reclaimable
        ServingLayouts.vacuum(maxAgeMs = 600000L)
      }
      val fIvf = serveIvf()
      val fPq = servePq()
      val fDedup = serveDedup()
      if (fIvf != expectIvf || fPq != expectPq || fDedup != expectDedup) {
        System.err.println(
          s"[hammer] iter $i MIXED LAYOUT: ivf=$fIvf expect=$expectIvf pq=$fPq expect=$expectPq " +
            s"dedup=$fDedup expect=$expectDedup")
        sys.exit(2)
      }
      i += 1
    }
    println(s"""{"metric":"serve_hammer","iters":$iters,"phase":$phase,""" +
      s""""rebuilds":$rebuilds,"publish_conflicts":$conflicts,"ok":true}""")
    spark.stop()
    sys.exit(0)
  }
}
