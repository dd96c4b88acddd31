package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point: one JVM per run.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * A run builds one session, stages the workload's inputs and layouts,
  * warms it up, then drives the workload's
  * operations from one client thread in a closed loop for `--seconds`,
  * checks every answer, and prints one JSON line: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`.
  */
object Main {
  /** Every per-layer metric with its unit; a layer a workload does not
    * exercise reports 0 on that workload.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "jvm.jit_ms" -> "ms", "jvm.gc_ms_per_op" -> "ms",
    "catalyst.plan_ms" -> "ms", "codegen.compiles_per_op" -> "count", "codegen.compile_ms_per_op" -> "ms",
    "tables.load_ms" -> "ms", "station_queries.build_ms" -> "ms") ++
    Station.Endpoints.map(e => s"station_queries.exec_ms.$e" -> "ms") ++ Seq(
    "result_cache.hit_ratio" -> "ratio", "result_cache.hit_ms" -> "ms", "result_cache.miss_ms" -> "ms",
    "result_cache.bytes" -> "B",
    "ingest.split_ms" -> "ms", "ingest.valid_ratio" -> "ratio", "ingest.dup_ratio" -> "ratio",
    "snapshot.commit_ms" -> "ms", "snapshot.dlq_append_ms" -> "ms", "snapshot.read_ms" -> "ms",
    "snapshot.branches_per_read" -> "count", "snapshot.files_live" -> "count",
    "snapshot.compact_ms" -> "ms", "snapshot.vacuum_ms" -> "ms", "snapshot.write_amp" -> "ratio",
    "snapshot.space_amp" -> "ratio",
    "text_analysis.quality_ms" -> "ms", "text_dedup.exact_ms" -> "ms", "text_dedup.minhash_ms" -> "ms",
    "text_dedup.near_dup_pairs" -> "count", "corpus.cluster_ms" -> "ms", "curation.kept_docs" -> "count",
    "ann.index_build_s" -> "s", "ann.load_ms" -> "ms", "ann.query_ms" -> "ms",
    "ann.cells_scanned_per_query" -> "count", "ann.recall_at_k" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_write_mb_per_op" -> "MB", "spark.shuffle_read_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB", "spark.scan_mb_per_op" -> "MB", "spark.executor_run_ms_per_op" -> "ms",
    "client.tail_ms" -> "ms", "client.ops" -> "count",
    "client.ingest_batch_ms" -> "ms", "client.station_request_ms" -> "ms", "client.knn_request_ms" -> "ms")

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = graft.GraftSession.builder(cpus)
      .appName("graft-perfbench")
      // bounded status-store retention, so retained heap does not grow
      // with the number of operations a run happens to complete
      .config("spark.ui.retainedJobs", "50").config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500").config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", sys.props("graft.perfbench.warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(m: Seq[(String, Double, String)]): String =
    m.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    val out = java.nio.file.Paths.get(a("out")).toAbsolutePath
    java.nio.file.Files.createDirectories(out)
    val name = a("workload")
    val tag = s"$name-seed$seed"
    val trace = new Trace(traced)
    var wl: Workload = name match {
      case "online" => new Online(seed)
      case "corpus_curate" => new CorpusCurate(seed, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ── set-up: session, inputs and layouts, warm-up ──
    val s0 = System.nanoTime()
    val spark = session()
    val buildS = (System.nanoTime() - s0) / 1e9
    val sc = spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    val queries = new QueryCounters
    spark.listenerManager.register(queries)
    trace.counters = () => counters.snapshot(sc) + ("partitions_read" -> queries.partitionsRead.get)
    val r0 = System.nanoTime()
    wl.stage(Ctx(spark, work.toString, trace))
    val stageS = (System.nanoTime() - r0) / 1e9
    val w0 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - Jvm.startMs) / 1000.0
    val calBefore = Calibration.ms()

    // ── timed phase: one client, closed loop, whole rounds ──
    val c0 = counters.snapshot(sc)
    val plan0 = queries.planMs.get
    val (cpu0, gc0, cg0, cgNs0) = (Jvm.cpuNs, Jvm.gcMs, Jvm.codegenCompiles, Jvm.codegenCompileNs)
    val lat = ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    val ticks0 = Jvm.cpuTicks
    val t0 = System.nanoTime()
    val limit = (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() - t0 < limit) {
      for (_ <- 0 until wl.roundSize) {
        attempted += 1
        try lat += wl.op(i) / 1e6
        catch {
          case scala.util.control.NonFatal(e) =>
            failed += 1
            if (failures.size < 5) failures += s"op $i: $e"
        }
        i += 1
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val ticks1 = Jvm.cpuTicks
    val stealShare = if (ticks1._1 > ticks0._1) (ticks1._2 - ticks0._2).toDouble / (ticks1._1 - ticks0._1) else 0.0
    val cpuMs = (Jvm.cpuNs - cpu0) / 1e6
    val gcMs = Jvm.gcMs - gc0
    val c1 = counters.snapshot(sc)
    val planMs = queries.planMs.get - plan0
    val (cg1, cgNs1) = (Jvm.codegenCompiles, Jvm.codegenCompileNs)
    val calAfter = Calibration.ms()
    val calMs = (calBefore + calAfter) / 2
    val ops = math.max(1L, attempted - failed).toDouble

    // ── answer checks and their self-test, outside the timed phase ──
    val errors = (try wl.verify() catch {
      case scala.util.control.NonFatal(e) => Seq(s"verify threw $e")
    }) ++ failures
    val selfTestMisses = try wl.selfTest() catch {
      case scala.util.control.NonFatal(e) => Seq(s"self-test threw $e")
    }
    errors.take(10).foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    selfTestMisses.foreach(e => System.err.println(s"[perfbench] SELF-TEST: $e accepted a perturbed answer"))
    val correct = errors.isEmpty && selfTestMisses.isEmpty && lat.nonEmpty
    val own = if (!traced) Map.empty[String, Double] else try wl.layers(trace) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] layer metrics failed: $e"); Map.empty[String, Double]
    }
    val fp = Gen.fingerprint(wl.opKeys)
    val byPart = wl.latencyByPart.map { case (k, xs) => (s"${k}_ms", if (xs.isEmpty) 0.0 else xs.sum / xs.size, "ms") }

    // Retained heap is the program's: the workload's inputs, models and
    // recorded answers are released first. Measured once before the
    // release, to show the share they held.
    val itemsPerOp = wl.itemsPerOp
    val heapWithInputsMb = Jvm.retainedHeapMb
    wl = null
    val heapMb = Jvm.retainedHeapMb

    val (tailP, tailMs) = if (lat.isEmpty) (0.5, 0.0) else Stats.tail(lat.toSeq)
    println(s"# workload=$name seed=$seed ops=${lat.size} attempted=$attempted failed=$failed " +
      f"fingerprint=$fp tail=p${tailP * 100}%.1f:$tailMs%.3fms samples=${lat.size} " +
      byPart.map { case (k, v, _) => f"$k=$v%.1f " }.mkString +
      s"session_s=${f"$buildS%.3f"} stage_s=${f"$stageS%.3f"} warmup_s=${f"$warmS%.3f"} " +
      f"heap_with_inputs_mb=$heapWithInputsMb%.1f calibration_ms=$calBefore%.3f,$calAfter%.3f " +
      f"steal_share=$stealShare%.3f " +
      s"checks=${if (correct) "pass" else "FAIL"}")

    // as measured, then scaled to the reference host speed (see Calibration)
    val raw = Seq(
      ("latency_ms", if (lat.isEmpty) 0.0 else lat.sum / lat.size, "ms"),
      ("throughput_per_s", ops * itemsPerOp / wallS, "1/s"),
      ("cpu_ms_per_op", cpuMs / ops, "ms"),
      ("retained_heap_mb", heapMb, "MB"),
      ("setup_s", setupS, "s"))
    // Wall times are also cut by the share of the machine's CPU time the
    // hypervisor took during the timed phase: with it back, that phase's
    // CPU-bound work would have run in (1 - steal) of the time. Process
    // CPU time does not count stolen time, so it needs no such cut.
    val unstolen = 1.0 - stealShare
    val scale = Map(
      "latency_ms" -> Calibration.RefMs / calMs * unstolen,
      "throughput_per_s" -> calMs / Calibration.RefMs / unstolen,
      "cpu_ms_per_op" -> Calibration.RefMs / calMs, "retained_heap_mb" -> 1.0,
      "setup_s" -> Calibration.RefMs / calBefore)
    val e2e = raw.map { case (k, v, u) => (k, v * scale(k), u) }
    java.nio.file.Files.writeString(out.resolve(s"$tag-${if (traced) "traced" else "untraced"}.json"),
      s"""{"workload": "$name", "seed": $seed, "fingerprint": "$fp", "ops": ${lat.size}, """ +
        s""""tail_percentile": ${fmt(tailP)}, "metrics": ${json(e2e)}, "raw_metrics": ${json(raw)}, """ +
        s""""latency_by_part": ${json(byPart)}, "heap_with_inputs_mb": ${fmt(heapWithInputsMb)}, """ +
        s""""calibration_ms": [${fmt(calBefore)}, ${fmt(calAfter)}], "steal_share": ${fmt(stealShare)}, """ +
        s""""latencies_ms": ${lat.map(x => fmt(x)).mkString("[", ", ", "]")}}""" + "\n")

    val metrics =
      if (!traced) e2e
      else {
        def mb(k: String) = (c1(k) - c0(k)) / 1048576.0 / ops
        val common = Map(
          "session.build_s" -> buildS,
          "jvm.jit_ms" -> Jvm.jitMs.toDouble,
          "jvm.gc_ms_per_op" -> gcMs / ops,
          "catalyst.plan_ms" -> planMs / ops,
          "codegen.compiles_per_op" -> (cg1 - cg0) / ops,
          "codegen.compile_ms_per_op" -> (cgNs1 - cgNs0) / 1e6 / ops,
          "spark.jobs_per_op" -> (c1("jobs") - c0("jobs")) / ops,
          "spark.tasks_per_op" -> (c1("tasks") - c0("tasks")) / ops,
          "spark.shuffle_write_mb_per_op" -> mb("shuffle_write_b"),
          "spark.shuffle_read_mb_per_op" -> mb("shuffle_read_b"),
          "spark.spill_mb_per_op" -> mb("spill_b"),
          "spark.scan_mb_per_op" -> mb("scan_b"),
          "spark.executor_run_ms_per_op" -> (c1("executor_run_ms") - c0("executor_run_ms")) / ops,
          "client.tail_ms" -> tailMs,
          "client.ops" -> lat.size.toDouble)
        val all = common ++ own
        trace.writeJsonl(out.resolve(s"$tag-trace.jsonl"))
        val self = trace.selfMs.toSeq.sortBy(-_._2)
          .map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")
        val layerRows = PerLayer.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
        java.nio.file.Files.writeString(out.resolve(s"$tag-layers.json"),
          s"""{"workload": "$name", "seed": $seed, "ops": ${lat.size}, "layers": ${json(layerRows)}, """ +
            s""""self_ms": $self}""" + "\n")
        layerRows
      }
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${json(metrics)}}""")
  }
}
