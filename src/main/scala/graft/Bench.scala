package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Benchmark main: times every SparkEntry query at the SF dir given by
  * SPARK_GRAFT_SF_DIR and emits ONE JSON line. The JSON is BOTH printed
  * to stdout and written to the file named by SPARK_GRAFT_BENCH_OUT
  * (default bench_out.json in the CWD), because under sbt the stdout
  * line is wrapped in [info] noise that breaks the driver's parser.
  *
  * Timing methodology: one untimed warmup execution per query, then the
  * minimum of 5 timed executions, interleaved REP-MAJOR (rep 1 of every
  * query, then rep 2 of every query, ...). This VM shows one-off flukes
  * of up to 36x on identical code (see BENCH_r1 vs r2), and a single
  * multi-minute host-contention window can span several MINUTES of wall
  * clock: with reps taken back-to-back per query, one stall poisons
  * every rep of a contiguous alphabetical block of queries (the
  * BENCH_r04 artifact). Rep-major interleaving puts each query's N
  * samples in N distinct time windows, so min-of-N survives any stall
  * shorter than a full sweep.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // Long-running-driver posture (learned the hard way at sf1: the
    // warmup sweep alone is ~125 heavy query executions / ~3.4k stages,
    // and the 24g driver OOM'd at minute ~31 — exactly the default
    // spark.cleaner.periodicGC.interval). Two root causes, two knobs:
    //  - ContextCleaner only releases broadcasts / localCheckpoint
    //    blocks after a DRIVER GC enqueues their weak refs; a large
    //    heap GCs rarely, so the backlog grows for 30 min and the
    //    first periodic GC arrives after the heap is already full.
    //    2 min keeps the backlog sweep-sized. A real cluster driver
    //    serving thousands of queries needs the same setting.
    //  - The app/SQL status stores retain up to 1000 executions'
    //    plan descriptions + per-stage metrics even with the UI off;
    //    complex plans (the dedup/curation family) make each entry
    //    plan-string-sized. Retention caps bound them.
    val spark = GraftSession.builder(defaultCpus = cpus)
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/shuffle paths once so the first timed query
    // doesn't absorb all cold-start cost (the data itself is not cached).
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // A throwing query reports -1 (never a fast fake timing) and logs to
    // stderr; min-of-N propagates the -1 so failures are visible in the
    // JSON rather than shrinking the total.
    def timeOnce(name: String,
                 fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }
    // SPARK_GRAFT_BENCH_ONLY / _SKIP: comma-separated query-name filters
    // for split runs — e.g. the sf1 scale bench times the declared
    // quadratic oracle baselines in a separate reps=1 invocation so six
    // reps of an all-pairs join don't dominate the wall clock.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skip.contains(n) }
    // Between sweeps, force the weak-ref processing that lets the
    // ContextCleaner drain (untimed window, so the GC pause is never
    // inside a measurement).
    def drainCleaner(): Unit = { System.gc(); Thread.sleep(200) }
    // Pinned CALIBRATION workload: a fixed CPU+shuffle-bound job whose
    // cost is independent of SF and of the code under test. One sample
    // per sweep rides in the same measurement windows as the queries,
    // and its min is emitted in the JSON — cross-round comparisons
    // divide per-query times by the calibration ratio to normalize out
    // host-speed drift (the r7→r8 artifact gap was a uniform ~1.5×
    // host-window effect, adjudicated only by an ad-hoc re-run; this
    // field makes that adjudication part of every artifact).
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").sum("v").count()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // untimed warmup of the calibration path itself
    queries.foreach { case (name, fn) => timeOnce(name, fn) } // warmup sweep, untimed
    drainCleaner()
    // rep-major: sample r of every query before sample r+1 of any — each
    // query's reps land in distinct time windows (see scaladoc)
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // classes Spark's codegen compiled inside each query's timed reps,
    // summed over the reps: 0 while the codegen cache holds every class
    // the warmup sweep compiled and the query inlines no per-run value
    def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiles = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val samples: Seq[Seq[Double]] =
      (1 to math.max(1, reps)).map { _ =>
        calibSamples += calibrate()
        val sweep = queries.map { case (n, f) =>
          val c0 = compileCount
          val t = timeOnce(n, f)
          compiles(n) += compileCount - c0
          t
        }
        drainCleaner()
        sweep
      }
    val results = queries.zipWithIndex.map { case ((name, _), i) =>
      val s = samples.map(_(i))
      name -> (if (s.exists(_ < 0)) -1.0 else s.min)
    }
    // medians ride along for noise transparency: min is the steady-state
    // claim, median shows how contended the run was (min ≪ median ⇒ the
    // host was noisy, not the code slow)
    val medians = queries.zipWithIndex.map { case ((name, _), i) =>
      val s = samples.map(_(i)).sorted
      name -> (if (s.exists(_ < 0)) -1.0 else s(s.length / 2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ms = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cs = queries.map { case (k, _) => s"\"" + k + "\":" + compiles(k) }
      .mkString("{", ",", "}")
    // A failed query (-1) must invalidate the headline, not deflate it:
    // total is -1 whenever any query failed, with the count made explicit.
    val failed = results.count(_._2 < 0)
    val total =
      if (failed > 0) -1.0
      else if (results.nonEmpty) results.map(_._2).sum
      else 0.0
    val calib = if (calibSamples.nonEmpty) calibSamples.min else -1.0
    // Workload-semantics notes ride in the artifact itself so
    // cross-round diffs can't silently conflate pre/post numbers for a
    // query whose measured workload changed under an unchanged name.
    val notes = """{"calibration":"min-of-reps of a pinned SF-independent group-agg job; divide query times by the calibration ratio to compare across rounds/hosts","compiles":"classes Spark codegen compiled during each query's timed reps, summed over the reps; the session sizes the codegen cache (GraftSession.CodegenCacheEntries) to hold a whole sweep, so timed reps include no per-rep recompilation of classes the rest of the sweep evicted, and a nonzero count is a class the query generates anew on every run; artifacts without this field ran at Spark's default of 100 entries and recompiled classes on every rep","dedup_incremental":"since r8 the corpus index builds once in the untimed warmup (DedupServing) and timed reps measure batch-serving cost only; pre-r8 numbers include the per-call index rebuild"}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"calibration":$calib,"queries":$qs,"medians":$ms,"compiles":$cs,"notes":$notes,"sf":"$sfDir"}"""
    Files.write(Paths.get(outPath), (json + "\n").getBytes(StandardCharsets.UTF_8))
    // The STDOUT line carries the driver contract fields only (metric/
    // value/unit/failed/calibration/queries/sf): r15's stdout line —
    // with medians and notes, ~2× the size — was cut off by the
    // driver's bounded tail capture, which zeroed that round's
    // round-over-round comparison. Medians, compiles and notes still
    // ship in the $outPath file above (same JSON contract, superset
    // fields); nothing is removed or renamed in `queries`.
    val stdoutJson = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"calibration":$calib,"queries":$qs,"sf":"$sfDir"}"""
    println(stdoutJson)
    spark.stop()
  }
}
