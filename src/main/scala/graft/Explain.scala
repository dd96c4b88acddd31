package graft

/** Perf-loop helper: print the formatted physical plan of one (or all)
  * SparkEntry queries, then time `--reps` runs of each (default 1; 0
  * dumps plans only). Each run prints one line that splits its wall
  * clock into the per-query layers:
  *
  *   build — `fn(spark, sfDir)` DataFrame construction, catalog and
  *           schema reads included
  *   plan  — analysis + optimization + physical planning
  *           (`queryExecution.executedPlan` forced)
  *   exec  — job submission + task execution (`count()`)
  *
  * Per-run times are printed, not a minimum, so one-off host outliers
  * stay visible.
  *
  *   runMain graft.Explain <queryName|all> [sfDir] [--no-plan] [--reps N]
  */
object Explain {
  def main(argv: Array[String]): Unit = {
    // `--reps N` may sit anywhere; the other arguments keep their positions
    val repsAt = argv.indexOf("--reps")
    require(repsAt < 0 || repsAt + 1 < argv.length, "--reps needs a count")
    val reps = if (repsAt >= 0) argv(repsAt + 1).toInt else 1
    val args = if (repsAt >= 0) argv.patch(repsAt, Nil, 2) else argv
    val name = args.headOption.getOrElse("all")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val showPlan = !args.contains("--no-plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(defaultCpus = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val targets =
      if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else Seq(name -> SparkEntry.queries(name))
    def ms(from: Long, to: Long): Double = (to - from) / 1e6
    targets.foreach { case (n, fn) =>
      if (showPlan) {
        println(s"===== $n =====")
        fn(spark, sfDir).explain("formatted")
      }
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        org.apache.spark.sql.classic.ClassicConversions.castToImpl(df)
          .queryExecution.executedPlan
        val t2 = System.nanoTime()
        val cnt = df.count()
        val t3 = System.nanoTime()
        println(f"[explain] $n%-24s run $r: rows=$cnt%-8d " +
          f"build ${ms(t0, t1)}%8.1f ms  plan ${ms(t1, t2)}%8.1f ms  exec ${ms(t2, t3)}%9.1f ms")
      }
    }
    spark.stop()
  }
}
